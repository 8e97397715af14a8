"""Plan audit: dump `.explain("formatted")` for the key operators and grep
for the plan properties that matter at 100 TB (SURVEY.md §4):

- broadcast joins on constraint/alias/prefix sides (no shuffle of the big side)
- no BatchEvalPython/ArrowEvalPython in the validation plan (pure JVM)
- TakeOrderedAndProject for top-K queries

Writes plans to BENCH/plans/*.txt and prints a one-line verdict per check.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry  # noqa: E402

from shacl_validator_spark.session import get_spark  # noqa: E402

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "plans")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    qs = entry.queries()

    checks = []

    def audit(name: str, predicate, description: str):
        df = qs[name](spark, sf_dir)
        text = plan_of(df)
        with open(os.path.join(OUT, f"{name}.txt"), "w") as f:
            f.write(text)
        ok = predicate(text)
        checks.append((name, description, ok))
        print(("PASS " if ok else "FAIL ") + f"{name}: {description}")

    audit(
        "shacl_report_summary",
        lambda t: "BroadcastHashJoin" in t and "BatchEvalPython" not in t
        and "ArrowEvalPython" not in t,
        "validation uses broadcast joins, no Python in plan",
    )
    audit(
        "severity_summary",
        lambda t: "HashAggregate" in t,
        "partial+final hash aggregation",
    )
    audit(
        "shacl_dcat_ap_es_report",
        lambda t: "BroadcastHashJoin" in t and "BatchEvalPython" not in t
        and "ArrowEvalPython" not in t,
        "full-suite validation: broadcast joins, no Python in plan",
    )
    audit(
        "minhash_dup_pairs",
        lambda t: "InMemoryTableScan" in t and "BatchEvalPython" not in t,
        "minhash: signature+shingle-set relation materialized once and reused",
    )
    audit(
        "embedding_ivf_topk",
        lambda t: ("BroadcastHashJoin" in t or "SortMergeJoin" in t)
        and "BatchEvalPython" not in t and "ArrowEvalPython" not in t,
        "IVF probe: cell equi-join, no Python in plan",
    )
    audit(
        "decontaminate",
        lambda t: "BroadcastHashJoin" in t and "BatchEvalPython" not in t
        and "ArrowEvalPython" not in t,
        "probe n-grams broadcast; corpus side never shuffles for the match",
    )
    audit(
        "hash_sample",
        lambda t: "Exchange" not in t.split("HashAggregate")[0]
        and "BatchEvalPython" not in t,
        "hash sampling is a narrow filter before the first aggregate",
    )
    audit(
        "embedding_quantize",
        lambda t: "BatchEvalPython" not in t and "ArrowEvalPython" not in t,
        "quantization is pure JVM column expressions",
    )
    audit(
        "dedup_clusters",
        lambda t: "BatchEvalPython" not in t,
        "cluster consolidation stays JVM-side (exact collapse + LSH + CC)",
    )
    audit(
        "chunk_dedup",
        lambda t: "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        and "md5" in t,
        "chunk dedup groups by md5(chunk) (16-byte keys), pure JVM",
    )
    audit(
        "lm_logprob",
        lambda t: "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        and "BroadcastNestedLoopJoin" in t,
        "LM scoring: one-row corpus total broadcast, pure JVM",
    )
    audit(
        "knn_graph_ivf_exact",
        lambda t: ("BroadcastHashJoin" in t or "SortMergeJoin" in t or "ShuffledHashJoin" in t)
        and "CartesianProduct" not in t and "BatchEvalPython" not in t,
        "blocked kNN graph: cell equi-join, never a cartesian product",
    )
    audit(
        "bpe_pair_stats",
        lambda t: "TakeOrderedAndProject" in t and "partial_sum" in t
        and "BatchEvalPython" not in t and "ArrowEvalPython" not in t,
        "BPE pair stats: map-side partial agg + TakeOrdered top-K, no Python",
    )
    audit(
        "incremental_dedup",
        lambda t: "CartesianProduct" not in t and "BatchEvalPython" not in t
        and "ArrowEvalPython" not in t,
        "cross-corpus dedup: equi-joins only, never a cartesian product, no Python",
    )

    audit(
        "bpe_encode",
        lambda t: "BatchEvalPython" not in t and "ArrowEvalPython" not in t,
        "pinned-BPE corpus tokenization stays JVM-side",
    )
    audit(
        "apply_mix",
        lambda t: "BroadcastHashJoin" in t and "BatchEvalPython" not in t
        and "ArrowEvalPython" not in t,
        "mix realization: weights broadcast, narrow copy fan-out, pure JVM",
    )
    audit(
        "dsir_weights",
        lambda t: "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        and "CartesianProduct" not in t
        and ("BroadcastHashJoin" in t or "BroadcastExchange" in t),
        "DSIR: ratio relation broadcast onto per-doc counts, pure JVM",
    )
    audit(
        "corpus_datasheet",
        lambda t: "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        and "Expand" in t and t.count("Location: InMemoryFileIndex") <= 2,
        "datasheet: one corpus scan per union branch, Expand two-phase distincts, pure JVM",
    )
    audit(
        "temperature_weights",
        lambda t: "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        and "Window" not in t,
        "temperature mix: tiny-agg + broadcast scalars, no unpartitioned window",
    )

    n_fail = sum(1 for _, _, ok in checks if not ok)
    print(f"\n{len(checks) - n_fail}/{len(checks)} plan checks passed; plans in BENCH/plans/")
    raise SystemExit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
