"""Record the exchanges of one ensemble_dedup_vote call: for every Spark
SQL execution the call runs (the band-signature checkpoint and the
final collect), each shuffle or broadcast exchange with its
partitioning and the rows and bytes it moved, then the formatted plan
of the final query.

Usage: python tools/capture_dedup_plans.py <repo_root> <out.txt> <sf_dir>

Run it once against each tree to compare (for example the parent
commit and the change) with the same sf_dir, a directory holding
``documents.parquet`` (doc_id, text). The sf_dir prefix is written as
``<sf_dir>`` in the output. local[4], 8 shuffle partitions,
AQE on: the exchanges and the row counts are those of the AQE-final
plan, so a join AQE turned into a broadcast shows a BroadcastExchange.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout


def _seq(s) -> list:
    it = s.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


# exchange node name -> (its row metric, its size metric)
ROW_METRICS = {
    "Exchange": ("shuffle records written", "shuffle bytes written"),
    "BroadcastExchange": ("number of output rows", "data size"),
}


def exchanges(spark, execution_id: int) -> list[str]:
    """Two lines per exchange of an execution's AQE-final plan (a reused
    exchange is listed once): the exchange, then its rows and bytes."""
    store = spark._jsparkSession.sharedState().statusStore()
    values = store.executionMetrics(execution_id)
    lines = []
    for node in _seq(store.planGraph(execution_id).allNodes()):
        if node.name() not in ROW_METRICS:
            continue
        got = {}
        for m in _seq(node.metrics()):
            v = values.get(m.accumulatorId())
            # multi-task metrics append "(min, med, max ...)" lines
            got[m.name()] = v.get().split("\n")[-1] if v.isDefined() else "n/a"
        rows, size = ROW_METRICS[node.name()]
        lines.append(
            f"  {node.desc()[:160]}\n"
            f"    rows: {got.get(rows, 'n/a')}; bytes: {got.get(size, 'n/a')}"
        )
    return lines


def main() -> None:
    root, out_path, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3].rstrip("/")
    sys.path.insert(0, root)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("dedup-plan-capture")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        from rust_s2_spark.operators.dedup import ensemble_dedup_vote

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        store = spark._jsparkSession.sharedState().statusStore()
        before = {e.executionId() for e in _seq(store.executionsList())}
        out = ensemble_dedup_vote(docs, "text", "doc_id")
        rows = out.collect()
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        report = [f"ensemble_dedup_vote on documents.parquet: {len(rows)} rows", ""]
        new = sorted(
            (e for e in _seq(store.executionsList()) if e.executionId() not in before),
            key=lambda e: e.executionId(),
        )
        total = 0
        for e in new:
            ex = exchanges(spark, e.executionId())
            total += len(ex)
            report.append(f"execution {e.executionId()}: {len(ex)} exchanges")
            report.extend(ex)
            report.append("")
        report.insert(1, f"{len(new)} SQL executions, {total} exchanges")
        report += ["== final query, formatted plan ==", buf.getvalue()]
        with open(out_path, "w") as f:
            f.write("\n".join(report).replace(sf_dir, "<sf_dir>"))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
