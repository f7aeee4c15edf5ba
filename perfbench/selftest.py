"""Self-test of the benchmark's result checks: a corrupted expected value
must be reported as a failed op.  Needs no Spark session.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

from run import check_corpus, check_ingest, check_olap  # noqa: E402
from tensorbase_spark.oracle import value_hash  # noqa: E402


def olap_cases() -> list[tuple[str, bool]]:
    rows = [(1, 2.5), (2, 3.0)]
    good = {"rows": 2, "hash": value_hash(rows, ["a", "b"])}
    out = []
    for label, want in (("olap: true expected", good),
                        ("olap: corrupted hash", {**good, "hash": "0" * 64}),
                        ("olap: corrupted row count", {**good, "rows": 3})):
        op = {"kind": "q1", "variant": 0, "ok": True, "result": ([("a", "Int64"), ("b", "Float64")], rows)}
        check_olap([op], {"q1": [want]})
        out.append((label, op["ok"]))
    return out


def ingest_cases() -> list[tuple[str, bool]]:
    parts = np.zeros(100, dtype=np.int64)
    out = []
    for label, count, lo, hi in (("ingest: count within bounds", 10, 8, 12),
                                 ("ingest: count above acknowledged", 13, 8, 12),
                                 ("ingest: count below acknowledged", 7, 8, 12)):
        op = {"kind": "count_sum", "read": True, "ok": True,
              "result": ([("n", "UInt64"), ("s", "Int64")], [(count, 0)]),
              "before": (lo, 0, parts), "after": (hi, 0, parts)}
        check_ingest([op])
        out.append((label, op["ok"]))
    return out


def corpus_cases() -> list[tuple[str, bool]]:
    def jobs(**hashes):
        return [{"job": k, "op": k, "start": 0.0, "end": 1.0, "rows": 1, "hash": v}
                for k, v in hashes.items()]

    approx: dict[str, str] = {}
    first = check_corpus(jobs(sim_brute_force_topk="h1", dedup_minhash_lsh="h2"),
                         {"sim_brute_force_topk": "h1"}, approx)
    corrupt = check_corpus(jobs(sim_brute_force_topk="h1"),
                           {"sim_brute_force_topk": "bad"}, approx)
    drift = check_corpus(jobs(dedup_minhash_lsh="h3"), {}, approx)
    return [("corpus: true oracle", all(op["ok"] for op in first)),
            ("corpus: corrupted oracle", corrupt[0]["ok"]),
            ("corpus: approximate hash changed", drift[0]["ok"])]


def main() -> int:
    cases = olap_cases() + ingest_cases() + corpus_cases()
    bad = 0
    for label, ok in cases:
        want = "true" in label or "within" in label
        status = "ok" if ok == want else "WRONG"
        bad += ok != want
        print(f"{status:5s} {label}: op {'passed' if ok else 'failed'}")
    print("selftest:", "passed" if not bad else f"{bad} case(s) wrong")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
