"""Helpers shared by the test files."""

from __future__ import annotations

from pyspark.sql import functions as F


def plan_text(df, mode: str = "formatted") -> str:
    """The text ``df.explain(mode)`` prints, returned instead."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def plan_subtrees(df, marker: str) -> list[list[str]]:
    """Each subtree of ``df``'s physical plan (``explain("simple")``)
    whose root line contains ``marker``, as its lines: the root first,
    then every deeper line below it."""
    lines = plan_text(df, "simple").splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if marker in line:
            j = i + 1
            while j < len(lines) and depth(lines[j]) > depth(line):
                j += 1
            out.append(lines[i:j])
    return out


def assert_no_jobs(sc, group: str, fn):
    """Run ``fn`` inside job group ``group``, assert it scheduled no
    Spark job (the lazy plan-construction contract), and return its
    result."""
    sc.setJobGroup(group, "plan construction must be job-free")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    return out


def cands(spark, sf_dir: str):
    """The embeddings table as ANN candidates ``(c_id, embedding)``."""
    from scdataset_spark.catalog import load_table

    e = load_table(spark, "embeddings", sf_dir, with_row_id=False)
    return e.select(F.col("vec_id").alias("c_id"), "embedding")


def cand_queries(spark, sf_dir: str, n: int):
    """The first ``n`` candidates as ANN queries ``(q_id, embedding)``."""
    return cands(spark, sf_dir).where(f"c_id < {n}").select(
        F.col("c_id").alias("q_id"), "embedding"
    )


def collect_pos(df):
    """``(row_id, pos)`` pairs of a planned frame, sorted."""
    return sorted((r["row_id"], r["pos"]) for r in df.collect())
