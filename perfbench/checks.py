"""Per-invocation answer checks, run outside the timed region.

* Queries with a reference answer (the registry's DuckDB oracle run via
  ``tests/oracle.py``, or the exact Python reference for
  ``pipeline_clean_corpus``) must match it after the oracle harness's
  canonicalization.
* ``dedup_minhash_lsh`` (no oracle; LSH is approximate) must reproduce its
  first invocation's pairs. In that first answer each reported Jaccard must
  equal the exact snapped Jaccard of the pair and reach the threshold, and
  the share of the exact pairs it reports (the recall) must reach
  ``LSH_RECALL_FLOOR``. Until an answer passes, each one is checked so.
"""

from __future__ import annotations

import pandas as pd
import pyarrow.parquet as pq

from oracle import _canon, _cell_eq
from reference import oracle_shingles, snapped_jaccard
from workloads import LSH_QUERIES, LSH_RECALL_FLOOR, LSH_THRESHOLD


def same_frame(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal under the oracle harness's rules, else the reason."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    for c in got.columns:
        if got[c].dtype.kind != want[c].dtype.kind:
            return f"{c}: dtype {got[c].dtype} != {want[c].dtype}"
    if got.equals(want):
        return None
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not _cell_eq(a, b):
                return f"{c}[{i}]: {a!r} != {b!r}"
    return None


class Checker:
    def __init__(self, sf_dir: str, expected: dict,
                 exact_pairs: pd.DataFrame | None):
        self.sf_dir = sf_dir
        self.expected = expected
        self.truth = set() if exact_pairs is None else set(
            zip(exact_pairs["doc_a"].tolist(), exact_pairs["doc_b"].tolist())
        )
        self.first: dict[str, pd.DataFrame] = {}
        self.recall: float | None = None
        self._texts: dict | None = None

    def check(self, rec: dict) -> None:
        """Set ``rec['ok']`` (and ``rec['error']`` on a wrong answer)."""
        if rec["ok"] is False:
            return
        pdf = rec["result"]
        rec["rows_out"] = len(pdf)
        got = _canon(pdf)
        name = rec["query"]
        if name in LSH_QUERIES:
            why = self._check_lsh(name, got)
        else:
            why = same_frame(got, self.expected[name])
        rec["ok"] = why is None
        if why:
            rec["error"] = f"wrong answer: {why}"

    def _check_lsh(self, name: str, got: pd.DataFrame) -> str | None:
        if name in self.first:
            return same_frame(got, self.first[name])
        why = self._lsh_pairs(got)
        if why is None:  # a wrong answer is checked in full again next time
            self.first[name] = got
        return why

    def _lsh_pairs(self, got: pd.DataFrame) -> str | None:
        if self._texts is None:
            docs = pq.read_table(f"{self.sf_dir}/documents.parquet").to_pandas()
            self._texts = dict(zip(docs["doc_id"], docs["text"]))
        found = set()
        for a, b, jac in zip(got["doc_a"], got["doc_b"], got["jaccard"]):
            exact = snapped_jaccard(oracle_shingles(self._texts[a]),
                                    oracle_shingles(self._texts[b]))
            if abs(exact - jac) > 1e-9 or exact < LSH_THRESHOLD:
                return f"pair ({a}, {b}) reports {jac}, exact {exact}"
            found.add((min(a, b), max(a, b)))
        self.recall = len(found & self.truth) / max(len(self.truth), 1)
        if self.recall < LSH_RECALL_FLOOR:
            return (f"recall {self.recall:.4f} of {len(self.truth)} exact "
                    f"pairs is below {LSH_RECALL_FLOOR}")
        return None
