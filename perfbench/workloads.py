"""The three benchmark workloads, driven only through the engine's public
entry points.

* ``olap-repeat``: a fixed panel of the declared queries outside the
  families set, every batch over the same fixture directory.
* ``families-fresh``: a fixed panel of the families set (memo-family
  consumers, fitted-model and result-memo servers, stream drains), every
  batch over a directory the session has never seen.
* ``loans-pipeline``: the reference's four tasks over a loans table
  written as CSV, new content at a new path every batch.

Both fixture sets are derived from the engine's query registries, and
every declared query lands in exactly one of them. A batch runs only a
panel of its set: the whole sets take 30-50 s per batch at sf0.1 on
4 cores, which leaves no room for a first batch, measured batches and
the correctness pass in a run of about a minute.
"""

from __future__ import annotations

import os

#: olap-repeat runs every OLAP_STRIDE-th query of the sorted OLAP set.
OLAP_STRIDE = 6

#: families-fresh panel: the queries of a few mechanisms, run in registry
#: order. q_stream_tumbling drains a stream inside its builder;
#: q_string_index and q_feature_pipeline fit and serve models;
#: q_percentile builds the orders_quartiles memo family and serves it as
#: its result, and q_approx_percentile reads it; q_merge_upsert builds the
#: orders_changes and merged_orders families, and q_table_diff reads them.
#: The LSH family builds (minhash, hyperplane, IVF) cost 1-4 s each at
#: sf0.1 and do not fit the run's time budget.
FAMILY_PANEL = (
    "q_feature_pipeline",
    "q_percentile",
    "q_stream_tumbling",
    "q_string_index",
    "q_approx_percentile",
    "q_merge_upsert",
    "q_table_diff",
)

#: Rows of the loans table per batch, and the reduced sizes used by the
#: self-test.
LOANS_ROWS = {"full": 10_000, "tiny": 4_000}

#: Minimum AUC the task-4 classifiers must reach (the reference's LR).
MIN_AUC = 0.80


class RegistryError(RuntimeError):
    pass


def query_sets(queries: dict) -> tuple[list[str], list[str]]:
    """Split the declared queries into (olap, families), in registry
    order. Fails before any Spark work when a registry names a query that
    ``queries()`` does not declare."""
    from financial_big_data_exp_4_spark.plans.extensions import (
        MEMO_FAMILY_CONSUMERS,
        MODEL_FIT_QUERIES,
        RESULT_MEMO_QUERIES,
    )

    registry = (
        {q for consumers in MEMO_FAMILY_CONSUMERS.values() for q in consumers}
        | set(MODEL_FIT_QUERIES)
        | set(RESULT_MEMO_QUERIES)
    )
    missing = sorted(registry - set(queries))
    if missing:
        raise RegistryError(f"registry names missing from queries(): {missing}")
    families = [q for q in queries if q in registry or q.startswith("q_stream_")]
    olap = [q for q in queries if q not in set(families)]
    if len(olap) + len(families) != len(queries):
        raise RegistryError("a declared query landed in both workloads")
    return olap, families


def panels(queries: dict) -> dict[str, list[str]]:
    olap, families = query_sets(queries)
    stray = [q for q in FAMILY_PANEL if q not in families]
    if stray:
        raise RegistryError(f"families panel outside the families set: {stray}")
    return {
        "olap-repeat": sorted(olap)[::OLAP_STRIDE],
        "families-fresh": [q for q in families if q in FAMILY_PANEL],
    }


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def fixture_dir(data_root: str, workload: str, scale: str, seed: int,
                batch: int) -> str:
    """Fixture for (seed, batch); olap-repeat reuses batch 0's."""
    from tools.fuzz_correctness import generate_scaled, generate_tiny

    if workload == "olap-repeat":
        batch = 0
    path = os.path.join(data_root, f"{workload}-{scale}", f"s{seed}", f"b{batch}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        if scale == "tiny":
            generate_tiny(path, seed * 1000 + batch)
        else:
            generate_scaled(path, seed * 1000 + batch, 1)
        open(os.path.join(path, "_DONE"), "w").close()
    return path


def loans_csv(spark, data_root: str, scale: str, seed: int, batch: int) -> str:
    from financial_big_data_exp_4_spark.sources.loans import synthesize_loans

    path = os.path.join(data_root, f"loans-pipeline-{scale}", f"s{seed}",
                        f"b{batch}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df = synthesize_loans(spark, LOANS_ROWS[scale], seed * 1000 + batch)
        df.write.mode("overwrite").option("header", True).csv(path)
    return path


def prune_cache(data_root: str, workload: str, scale: str, seed: int) -> None:
    """Keep only this seed's inputs for this workload, so the cache stays
    one run's size however many seeds are run."""
    import shutil

    top = os.path.join(data_root, f"{workload}-{scale}")
    if os.path.isdir(top):
        for name in os.listdir(top):
            if name != f"s{seed}":
                shutil.rmtree(os.path.join(top, name), ignore_errors=True)


# ---------------------------------------------------------------------------
# batches
# ---------------------------------------------------------------------------

def noop(df) -> None:
    """Full plan execution with every column materialized and nothing
    sent to the driver."""
    df.write.format("noop").mode("overwrite").save()


def run_fixture_batch(spark, tracer, qs, names, sf_dir, batch, failures):
    """Build then noop-sink each query. Returns the query spans."""
    spans = []
    for name in names:
        layer = "streaming" if name.startswith("q_stream_") else "plans"
        with tracer.span(name, "query", batch=batch) as q:
            try:
                with tracer.span("build", layer, query=name) as b:
                    df = qs[name](spark, sf_dir)
                with tracer.span("exec", "exec", query=name) as e:
                    noop(df)
                q["build_s"], q["exec_s"] = b["dur"], e["dur"]
            except Exception as exc:  # one failed query must not end the run
                failures.append(f"batch {batch} {name}: {exc!r}"[:500])
                q["failed"] = True
        spans.append(q)
    return spans


def loans_tasks(df):
    """Tasks 1-3 as (name, plan builder) over the loans table, built from
    ``functions.*`` exactly as the reference computes them."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from financial_big_data_exp_4_spark.functions import (
        bucket_edge,
        bucket_label_from_edge,
        interest_expr,
        parse_work_year,
        share_expr,
    )

    def count_by(col):
        return df.groupBy(col).agg(F.count("*").alias("cnt"))

    return [
        ("task1", lambda: count_by("industry")
         .orderBy(F.desc("cnt"), F.asc("industry"))),
        ("task2", lambda: df.select(
            bucket_edge(F.col("total_loan"), 1000).alias("left_edge"))
         .groupBy("left_edge").agg(F.count("*").alias("cnt"))
         .select(bucket_label_from_edge(F.col("left_edge"), 1000)
                 .alias("bucket"), "cnt", "left_edge")
         .orderBy("left_edge").drop("left_edge")),
        ("task3_1", lambda: count_by("employer_type").select(
            "employer_type",
            share_expr(F.col("cnt"),
                       F.sum("cnt").over(Window.partitionBy()).cast("long"),
                       4).alias("share"))),
        ("task3_2", lambda: df.select(
            "user_id",
            interest_expr("year_of_loan", "monthly_payment", "total_loan")
            .alias("total_money"))),
        ("task3_3", lambda: df.where(parse_work_year("work_year") > 5)
         .select("user_id", "year_of_loan", "work_year")),
    ]


def run_loans_batch(spark, tracer, csv_path, out_dir, batch, failures):
    """Tasks 1-3 built and written through the CSV sink, then task 4's
    features and fits. Returns (step spans, {classifier: auc})."""
    from financial_big_data_exp_4_spark.ml import (
        prepare_features,
        train_and_evaluate,
        train_test_split,
    )
    from financial_big_data_exp_4_spark.sources.csv import (
        read_csv,
        write_single_csv,
    )
    from financial_big_data_exp_4_spark.sources.loans import loans_schema

    spans, aucs = [], {}
    df = read_csv(spark, csv_path, schema=loans_schema())

    def step(name, body):
        with tracer.span(name, "query", batch=batch) as s:
            try:
                out = body()
            except Exception as exc:  # one failed step must not end the run
                failures.append(f"batch {batch} {name}: {exc!r}"[:500])
                s["failed"] = True
                out = None
        spans.append(s)
        return out

    def sink(name, build):
        with tracer.span("build", "plans"):
            task = build()
        with tracer.span("write", "sources"):
            write_single_csv(task, os.path.join(out_dir, name))

    def ml(name, body):
        with tracer.span(name, "ml"):
            return body()

    for name, build in loans_tasks(df):
        step(name, lambda name=name, build=build: sink(name, build))

    def features():
        feats = prepare_features(df).persist()
        feats.count()
        return feats

    feats = step("features", lambda: ml("features", features))
    if feats is not None:
        train, test = train_test_split(feats)
        for clf in ("lr", "rf"):
            res = step(f"fit_{clf}", lambda clf=clf: ml(
                f"fit_{clf}", lambda: train_and_evaluate(train, test, (clf,))))
            if res is not None:
                aucs[clf] = res[clf]
        feats.unpersist()
    return spans, aucs
