"""Output checks: order-independent digests, graph invariants, oracle P/R."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUTPUTS = ("nodes", "edges", "node_stats")


def digest(df: DataFrame) -> str:
    """``rows:sum`` of a 64-bit hash of every row, columns taken by name.

    Summing (as a decimal, so it cannot overflow) makes the digest
    independent of row order and partitioning, and unlike an XOR a
    duplicated row changes it.
    """
    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return f"{row['n']}:{row['s']}"


def digests(tables: dict[str, DataFrame]) -> dict[str, str]:
    return {name: digest(tables[name]) for name in OUTPUTS}


def invariants(tables: dict[str, DataFrame]) -> list[str]:
    """Properties every build must have, whatever its input."""
    nodes, edges, stats = (tables[n] for n in OUTPUTS)
    problems = []
    e = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("subj") == F.col("obj"), 1).otherwise(0)).alias("loops"),
    ).collect()[0]
    s = stats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("degree").alias("deg"),
    ).collect()[0]
    n_nodes = nodes.count()
    if n_nodes == 0 or e["n"] == 0:
        problems.append(f"empty graph: {n_nodes} nodes, {e['n']} edges")
    if e["loops"]:
        problems.append(f"{e['loops']} self-loop edges")
    if s["n"] != n_nodes:
        problems.append(f"node_stats has {s['n']} rows for {n_nodes} nodes")
    if (s["deg"] or 0) != 2 * e["n"]:
        problems.append(f"degree sum {s['deg']} != 2 x {e['n']} edges")
    dangling = (
        edges.select(F.col("subj").alias("id"))
        .union(edges.select(F.col("obj").alias("id")))
        .join(nodes, F.col("id") == nodes["cluster_id"], "left_anti")
        .count()
    )
    if dangling:
        problems.append(f"{dangling} edge endpoints missing from nodes")
    return problems


def compare(label: str, got: dict[str, str], want: dict[str, str]) -> list[str]:
    return [
        f"{label}: {name} digest {got.get(name)} != {want[name]}"
        for name in want
        if got.get(name) != want[name]
    ]


def oracle_pr(edges: DataFrame, rows: list[dict], config) -> tuple[float, float]:
    """Triple precision and recall of ``edges`` against the O(n^2) oracle."""
    from graphrag_rs_spark.oracle import precision_recall, run_oracle

    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in edges.select("subj", "pred", "obj").collect()
    }
    return precision_recall(got, run_oracle(rows, config).triples)
