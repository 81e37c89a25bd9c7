"""Seeded input generator for the benchmark workloads.

Everything here is plain numpy + pyarrow in one process; nothing imports
the program under test, so the inputs and their ground truth are made
apart from it. The same ``seed`` always writes byte-identical files. The
last line printed is a JSON object with the directory the workload reads
its inputs from and a ``digest`` of the files there, so two sides of a
comparison can show they ran on the same inputs::

    python3 perfbench/gen.py --workload curate --seed 1 --out .perfbench_work/gen

Inputs:

* ``analytics``: the eight relational tables the catalog queries
  ``q01``-``q30``/``q19b`` read: byte-identical copies of the project's
  sf0.1 test tables, kept in ``data/sf0.1`` and only read. Nothing is
  generated for them.
* ``curate``: one corpus parquet of ``CURATE_DOCS`` documents.
* ``ingest``: ``INGEST_DROPS`` parquet drops of ``INGEST_DROP_DOCS``
  documents each, arriving in id order.

A corpus is built from distinct *base* documents in four languages
(skewed Zipf vocabulary, stopword mix per language, a share of short
punctuation-heavy junk that fails the quality gate). Planted groups are
bases with 1, 2 or 3 copies: exact copies (differing only in case and
whitespace, which the dedup normalisation folds) or near-duplicate
variants (one token substituted in a 90-130-token base, 3-shingle
Jaccard >= 0.9). Every
document has at least ``MIN_TOKENS`` tokens, above the MinHash shingle
length, so every planted duplicate can be found. ``truth.json`` records
for each document its group (= its base), so the expected survivors and
the distinct-document count are known without running the program.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CURATE_DOCS = 1000
INGEST_DROPS = 2
INGEST_DROP_DOCS = 400
MIN_TOKENS = 6  # > MinHash shingle length (3): no document is unmatchable
GROUP_SHARE = 0.12  # planted groups per document (half exact, half near)
JUNK_SHARE = 0.10  # short punctuation-heavy bases (fail the quality gate)
LANG_MIX = {"en": 0.55, "de": 0.2, "es": 0.15, "fr": 0.1}
STOPWORDS = {
    "en": "the a of and to in is that it for".split(),
    "de": "der die das und ist von mit ein zu den".split(),
    "es": "el la de y que en un es se por".split(),
    "fr": "le la de et que en un est se pour".split(),
}
_SYLLABLES = (
    "ka lo mi ne ru sa te vi po da be fi go hu je ko lu ma no pe "
    "ri so tu va we xi yo za bra cle dro fro gri plo stu tra"
).split()
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
TABLES = ["region", "nation", "supplier", "customer", "part", "orders", "lineitem", "events"]

# -- corpora ----------------------------------------------------------------------


def _vocab(rng, size: int) -> list:
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES, rng.integers(2, 4))))
    return [str(w) for w in rng.permutation(sorted(words))]  # rank != alphabet


class _Corpus:
    """Distinct base documents plus their planted duplicates."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 2])
        self.content = {lang: _vocab(self.rng, 3000) for lang in LANG_MIX}
        ranks = np.arange(1, 3001)
        self.zipf = ranks ** -1.1 / np.sum(ranks ** -1.1)

    def _words(self, lang: str, n: int) -> list:
        idx = self.rng.choice(3000, n, p=self.zipf)
        return [self.content[lang][i] for i in idx]

    def base(self, serial: int, long: bool) -> str:
        rng = self.rng
        lang = rng.choice(list(LANG_MIX), p=list(LANG_MIX.values()))
        tag = f"ref{serial:x}q"  # one unique token: distinct bases never collide
        if not long and rng.random() < JUNK_SHARE:
            toks = self._words(lang, int(rng.integers(MIN_TOKENS, 11)) - 1)
            return " ".join(w + str(rng.choice(["!!", "?!", ";;", ",.", ":!"])) for w in toks) + " " + tag
        n = int(rng.integers(90, 130)) if long else int(rng.integers(20, 100))
        sw = STOPWORDS[lang]
        toks = [
            sw[rng.integers(len(sw))] if rng.random() < 0.35 else w
            for w in self._words(lang, n - 1)
        ]
        toks.insert(int(rng.integers(len(toks) + 1)), tag)
        out, i = [], 0
        while i < len(toks):  # sentences of 6-14 tokens
            j = i + int(rng.integers(6, 15))
            out.append(" ".join(toks[i:j]) + ".")
            i = j
        return " ".join(out)

    def exact_copy(self, text: str) -> str:
        """Same content after lower-case + whitespace folding."""
        rng = self.rng
        toks = text.split(" ")
        k = int(rng.integers(len(toks)))
        toks[k] = toks[k].upper()
        return ("  " if rng.random() < 0.5 else "\t").join(toks) + " "

    def near_copy(self, text: str) -> str:
        """One token substituted: Jaccard of 3-shingles >= 0.9 for >= 90 tokens."""
        rng = self.rng
        toks = text.split(" ")
        k = int(rng.integers(1, len(toks)))
        toks[k] = "subst" + "".join(rng.choice(_SYLLABLES, 2)) + ("." if toks[k].endswith(".") else "")
        return " ".join(toks)

    def documents(self, n_docs: int):
        """(texts, groups): ``groups[i]`` is the base index of text ``i``.
        ``GROUP_SHARE * n_docs`` bases get 1, 2 or 3 copies in turn (half
        exact, half near), so every seed has the same group structure."""
        rng = self.rng
        n_groups = int(n_docs * GROUP_SHARE)
        copies = [1 + g % 3 for g in range(n_groups)]
        n_bases = n_docs - sum(copies)
        kinds = rng.permutation(["exact"] * (n_groups // 2) + ["near"] * (n_groups - n_groups // 2)
                                + ["none"] * (n_bases - n_groups))
        texts = [self.base(b, long=kind == "near") for b, kind in enumerate(kinds)]
        groups = list(range(n_bases))
        planted = [b for b, kind in enumerate(kinds) if kind != "none"]
        for b, n in zip(planted, copies):
            copy = self.exact_copy if kinds[b] == "exact" else self.near_copy
            texts += [copy(texts[b]) for _ in range(n)]
            groups += [b] * n
        return texts, groups


def _doc_table(ids, texts) -> pa.Table:
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})


# -- writers ----------------------------------------------------------------------


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _write_truth(out: str, truth: dict) -> None:
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh)


def write_analytics(out: str, seed: int) -> str:
    """The tables are the project's sf0.1 test tables, read in place from
    ``SF_DIR``; only their row counts, from the parquet footers, are
    written. The seed sets the query order, not the data."""
    rows = {t: pq.read_metadata(os.path.join(SF_DIR, f"{t}.parquet")).num_rows for t in TABLES}
    _write_truth(out, {"rows": rows})
    return SF_DIR


def write_curate(out: str, seed: int, n_docs: int = CURATE_DOCS) -> str:
    texts, groups = _Corpus(seed).documents(n_docs)
    order = np.random.default_rng([seed, 3]).permutation(len(texts))
    ids = np.empty(len(texts), np.int64)
    ids[order] = np.arange(1, len(texts) + 1)  # ids in shuffled order
    _write(_doc_table(ids, texts), os.path.join(out, "corpus.parquet"))
    truth = {"docs": len(texts), "group": {int(i): int(g) for i, g in zip(ids, groups)}}
    truth["distinct"] = len(set(groups))
    _write_truth(out, truth)
    return out


def write_ingest(out: str, seed: int, n_drops: int = INGEST_DROPS,
                 per_drop: int = INGEST_DROP_DOCS) -> str:
    """Drops ``drop=0..n_drops-1``; ids rise with arrival, so a group's
    earliest arrival is also its smallest id."""
    texts, groups = _Corpus(seed).documents(n_drops * per_drop)
    order = np.random.default_rng([seed, 4]).permutation(len(texts))
    truth = {"docs": len(texts), "group": {}, "drop_docs": per_drop, "drops": n_drops}
    for d in range(n_drops):
        sl = order[d * per_drop:(d + 1) * per_drop]
        ids = np.arange(d * per_drop + 1, (d + 1) * per_drop + 1)
        _write(_doc_table(ids, [texts[i] for i in sl]), os.path.join(out, "drops", f"drop{d}.parquet"))
        truth["group"].update({int(i): int(groups[j]) for i, j in zip(ids, sl)})
    truth["distinct"] = len(set(groups))
    _write_truth(out, truth)
    return out


WRITERS = {"analytics": write_analytics, "curate": write_curate, "ingest": write_ingest}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WRITERS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    inputs = WRITERS[a.workload](a.out, a.seed)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "inputs": inputs, "digest": digest(inputs)}))


if __name__ == "__main__":
    main()
