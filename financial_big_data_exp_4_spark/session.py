"""SparkSession factory.

The reference runs Spark 2.4.5 ``local[*]`` with all defaults
(reference ``README.md:420-424``, nb2 cell 1). We target Spark 4.x and set
the handful of configs that matter for correctness and for scale:

* ``spark.sql.legacy.parquet.nanosAsLong`` — earlier fixture generations
  shipped ``events.parquet`` as INT64 TIMESTAMP(NANOS), which Spark refuses
  to read without this flag (the column then arrives as bigint
  nanoseconds). Current fixtures use TIMESTAMP(MICROS); the flag is kept so
  both encodings load, and ``sources.parquet.load_table`` normalizes either
  to the engine's canonical bigint-ns ``ts``.
* AQE on — runtime shuffle-partition coalescing + skew-join splitting; this
  is what makes a fixed ``spark.sql.shuffle.partitions`` safe from sf0.001
  up to cluster scale.
* UTC session timezone — deterministic timestamp rendering for the
  differential-test oracle.
* Arrow for pandas interchange — any ``toPandas``/``mapInPandas`` boundary
  moves columnar batches, not pickled rows.

All of these are session-level SQL confs, so :func:`ensure_session_confs`
can retrofit them onto an externally created session (the verification
driver builds its own ``SparkSession``).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: SQL confs that are safe to set on a live session (runtime-settable).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Spark 4 whitelists a handful of CSV charsets; the reference's K2 sink
    # is GBK (README.md:190) — the legacy flag restores full JVM charsets.
    "spark.sql.legacy.javaCharsets": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce post-shuffle partitions to the 64 MB advisory TARGET SIZE
    # rather than "keep as many partitions as default parallelism" (the
    # default true). At 100 TB both settings converge (every partition is
    # data-bound); at small inputs the default leaves a KB-sized shuffle
    # spread across `cpus` near-empty reducers — pure task-launch floor.
    # Spark's own docs recommend false for exactly this reason. Measured
    # round 12 at sf0.1: 3,777 → ~1,100 tasks across the 98-query bench.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Let AQE size CACHED plan output too (default false): the memoized
    # family stages (`memo_df`) persist small candidate/pair frames, and
    # without this every consumer stage scans the cache at the static
    # shuffle DOP (measured round 12: a 2,935-row pair cache held 32
    # partitions → 360 tasks per verify query). At scale the same flag
    # gives 64 MB-target cached partitions — right in both regimes.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "financial_big_data_exp_4_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard confs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for local testing;
    cluster deployments pass their own master / rely on spark-submit. The
    shuffle-partition count defaults to the local core count — with AQE
    coalescing enabled this is a ceiling, not a fixed fan-out, so the same
    code scales to a real cluster where operators would raise it.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    )
    if master:
        builder = builder.master(master)
    elif os.environ.get("SPARK_MASTER"):
        # Spark itself does not read SPARK_MASTER; honor it explicitly so a
        # plain `python` launch against a cluster works (round-1 ADVICE).
        builder = builder.master(os.environ["SPARK_MASTER"])
    else:
        builder = builder.master(f"local[{cpus}]")
        # Local mode: every task is process-local, so the delay scheduler's
        # locality wait (default 3s tiers) only adds task-launch latency at
        # locality-level transitions — measured ~2× on the per-job floor
        # (0.24→0.13 s for a 1-row job on the bench host). Cluster deploys
        # (explicit master / SPARK_MASTER) keep their own locality policy.
        builder = builder.config("spark.locality.wait", "0")
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_session_confs(spark)
    return spark


def rebalance_for_cpu(df, key: str, target: int | None = None):
    """Scale-up-only hash rebalance for CPU-bound map stages.

    A hash-heavy projection (md5 shingling, higher-order-function folds)
    costs ~100× the parquet scan feeding it, so its parallelism must
    track cores, not file splits. A small or over-compacted input (a
    single-file local fixture, one fat row group) scans as fewer
    partitions than the cluster has cores, serializing the expensive map
    stage on one task; this repartitions UP to the default parallelism,
    keyed by ``key`` (content-derived → deterministic under task retry,
    uniform when the key is unique). Whenever the scan already has
    ≥ cores partitions — every real 100 TB layout — it is a no-op and
    the plan stays shuffle-free. The explicit partition count keeps AQE
    from coalescing the deliberately tiny shuffle back down to one
    partition.

    Known blind spot (round-11, measured): a UNION of an under-split
    scan with a many-partition frame passes the ``>= target`` partition
    COUNT check while the scan's rows still sit in one partition — the
    heavy map stage above runs serially on that child (94.8 s vs 7.8 s
    for the capped-recall measurement's 500k-doc + local-relation
    union). Partition count is the only cheap job-free probe, so this
    stays a documented caller contract: after unioning an under-split
    scan, repartition EXPLICITLY on a unique key (the sanctioned
    pattern, same as the post-join repartition in neardup_edit).

    Intended for a BARE SCAN (or near-scan projection): the partition
    probe goes through ``df.rdd``, and materializing an RDD from a plan
    with exchanges EXECUTES those stages eagerly at build time under AQE
    (observed: 3 jobs fired before any action when a broadcast-semi-join
    plan was probed). That precondition is ENFORCED here, not delegated
    to callers (round-9 ADVICE: public text/corpus operators rebalance
    their input unconditionally, so a composed call like
    ``scrub_pii(normalize_text(docs))`` or a joined frame would
    otherwise fire jobs at plan-build time): if the ANALYZED logical
    plan — inspection only, nothing executes — contains any
    exchange-bearing or multi-stage node, the helper is a no-op. That
    is also the semantically right answer: such a plan already has a
    shuffle whose output partitioning tracks
    ``spark.sql.shuffle.partitions``, so the map stage above it is
    already parallel; the single-task hazard this helper exists for is
    specific to under-split scans.
    """
    import re

    from pyspark.sql import functions as F

    try:
        analyzed = df._jdf.queryExecution().analyzed()
    except Exception:
        # no JVM plan handle (e.g. a Connect-style session): the df.rdd
        # probe below would be unavailable/eager there too — skip
        return df
    # Collect NODE CLASS names by walking the JVM logical-plan tree —
    # literal-proof by construction (round-11 ADVICE: the previous
    # toString() regex matched the first token of every LINE, so a
    # string literal containing an embedded newline could print a
    # continuation line starting with e.g. "Sort ..." and silently
    # no-op the rebalance on an eligible scan; conversely a data
    # literal containing "Union" in a line BODY must not trip it —
    # class names can't contain either). Union itself is NOT a marker:
    # it is narrow (no exchange), its df.rdd probe is job-free, and a
    # union-of-underslit-scans is precisely the hazard case this
    # helper fixes.
    node_names: set[str] = set()
    try:
        stack = [analyzed]
        while stack:
            node = stack.pop()
            node_names.add(node.getClass().getSimpleName())
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
    except Exception:
        # fallback: the structural line-leading-token regex over the
        # rendered tree (pre-round-11 behavior; reachable only if the
        # py4j tree accessors change shape)
        node_names = {
            m.group(1)
            for m in re.finditer(
                r"^[\s:+\-]*'?([A-Za-z]+)", analyzed.toString(), re.MULTILINE
            )
        }
    unsafe_prefixes = (
        "Join",  # Join / AsOfJoin / LateralJoin render as "Join ..."
        "Aggregate",
        "Window",
        "Sort",
        "Repartition",  # Repartition / RepartitionByExpression
        "Deduplicate",
        "Distinct",  # SELECT DISTINCT analyzes to Distinct, not Deduplicate
        "GlobalLimit",
        "Offset",
        "Except",
        "Intersect",
        "CoGroup",
        "FlatMapGroups",
    )
    if any(n.startswith(unsafe_prefixes) for n in node_names):
        return df

    target = target or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        # Partition COUNT ≥ cores is not sufficient for parquet: Spark
        # byte-range-splits a large file into ≥ cores partitions, but a
        # parquet task only produces rows for row groups whose MIDPOINT
        # falls in its range — a big single-row-group file (the driver
        # fixture shape at 100×: 366 MB, one group) yields cores-1 EMPTY
        # partitions and one task holding every row, serializing the
        # expensive map stage this helper exists to parallelize
        # (round-11 finding: a 945-CPU-second straggler in the
        # capped-recall measurement; 22 of 23 scan tasks finished in
        # ms). Footer metadata is the cheap job-free truth: if the
        # scan's parquet files collectively hold fewer row groups than
        # cores, rows CANNOT spread to ``target`` tasks, so rebalance
        # anyway. ≥ target files short-circuits (≥ 1 group each); any
        # non-parquet / non-local / unreadable input falls back to the
        # partition-count verdict (CSV/JSON split by lines, not groups).
        try:
            files = df.inputFiles()
        except Exception:
            return df
        if len(files) >= target or not files or not all(
            f.split("?", 1)[0].endswith(".parquet") for f in files
        ):
            return df
        try:
            import pyarrow.parquet as _pq

            total_rgs = 0
            for f in files:
                path = f[7:] if f.startswith("file:") and f[5:7] == "//" \
                    else (f[5:] if f.startswith("file:") else f)
                total_rgs += _pq.ParquetFile(path).metadata.num_row_groups
                if total_rgs >= target:
                    return df
        except Exception:
            return df
        # fall through: fewer row groups than cores — rebalance
    return df.repartition(target, F.col(key))


#: Attribute under which :func:`persist_scoped` keeps its FIFO of live
#: scoped-persisted frames. Stored ON the session object, like the
#: :func:`memo_df` memo: every evicted frame belongs to the same session
#: as the frame being persisted, and the slots die with the session.
_PERSIST_ATTR = "_fbde4_persist_slots"


def persist_scoped(df, slots: int = 2):
    """Persist ``df``, evicting the oldest scoped-persisted plan of the
    same session beyond ``slots`` live entries.

    For operators whose expensive map stage feeds BOTH branches of a
    self-join (LSH band rows, IVF cell assignments): Spark does not share
    scans between self-join branches, so without persistence the
    signature expression computes once per branch. Persisting the
    exploded rows makes it once total — and the bounded eviction keeps
    repeated invocations (bench: 4× per query) from accumulating
    session-lifetime cache. An evicted plan that is re-executed simply
    recomputes (slower, still correct).

    Two slots, not one: composed operators nest scoped persists one level
    deep (triangle_count persists the edge list whose *plan* reads the
    persisted LSH signatures; persistence is lazy, so a single slot would
    evict the inner cache before the outer plan ever materializes it —
    observed 2× signature recompute, 5.2s vs 2.3s at sf0.1).

    A failing ``unpersist`` of an evicted frame propagates: swallowing it
    would leak the executor-memory slot with no signal. When the session
    object rejects attributes (slotted/proxied sessions) ``df`` is
    returned unpersisted, the same fallback as :func:`memo_df`."""
    spark = df.sparkSession
    live = getattr(spark, _PERSIST_ATTR, None)
    if live is None:
        live = []
        try:
            setattr(spark, _PERSIST_ATTR, live)
        except Exception:  # pragma: no cover - slotted/proxied sessions
            return df
    while len(live) >= slots:
        live.pop(0).unpersist()
    df = df.persist()
    live.append(df)
    return df


#: Attribute under which :func:`memo_df` hangs its per-session memo dict.
#: Stored ON the session object so the memo (and its persisted plans) dies
#: with the session instead of leaking across restarts.
_MEMO_ATTR = "_fbde4_df_memo"


#: Compressed input bytes one shuffle partition should carry when sizing
#: the pre-AQE shuffle DOP from input statistics. Parquet zstd/snappy
#: decompresses ~3-5×, so 4 MiB compressed ≈ a comfortably sub-64 MB
#: in-memory partition — conservative enough that CPU-heavy reduce
#: stages (token explosion, percentile buffers) keep real parallelism
#: well before the core-count ceiling lifts.
_SHUFFLE_TUNE_BYTES_PER_PARTITION = 4 * 1024 * 1024
_SHUFFLE_TUNE_MIN_PARTITIONS = 4
_SHUFFLE_TUNE_MEMO_ATTR = "_fbde4_shuffle_tune_memo"
#: Input size below which the session runs queries with AQE OFF — the
#: same planner-grade "statistically tiny" threshold the CC loop uses
#: for its own actions (operators/graph.py): under it, every stage's
#: data cost is below the scheduler floor, so runtime re-planning only
#: adds one job per materialized exchange. Env-overridable for A/B
#: measurement (0 = never off); the default is the MEASURED winner —
#: see the docstring below.
_AQE_OFF_INPUT_BYTES = int(
    os.environ.get("SPARK_GRAFT_AQE_OFF_BYTES", 64 * 1024 * 1024)
)


_INPUT_BYTES_MEMO_ATTR = "_fbde4_input_bytes_memo"


def input_dir_bytes(spark: SparkSession, sf_dir: str) -> int | None:
    """Total parquet bytes under a LOCAL scale directory, memoized per
    (session, directory) — the input statistic behind every
    input-sized session knob (shuffle DOP, AQE regime, streaming drain
    state partitions). ``None`` for remote URIs (the cluster's own
    statistics/conf stand) or unreadable paths."""
    memo = session_memo(spark, _INPUT_BYTES_MEMO_ATTR)
    if memo is not None and sf_dir in memo:
        return memo[sf_dir]
    if "://" in sf_dir and not sf_dir.startswith("file:"):
        return None
    path = sf_dir[7:] if sf_dir.startswith("file://") else sf_dir
    try:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, f))
    except OSError:
        return None
    if memo is not None:
        memo[sf_dir] = total
    return total


def tune_shuffle_for_input(spark: SparkSession, sf_dir: str) -> None:
    """Input-statistics-driven shuffle DOP + execution regime. Two
    session knobs keyed to the scale directory's
    parquet byte count: the pre-AQE shuffle-partition ceiling, and —
    below :data:`_AQE_OFF_INPUT_BYTES` — adaptive execution itself
    (tiny inputs pay one scheduler job per AQE-materialized exchange
    for re-planning that cannot help; see the inline comment).

    ``spark.sql.shuffle.partitions`` is a *ceiling* under AQE, but the
    default ceiling (core count) is the wrong shape for tiny inputs: a
    17 MB scale directory planned at 32-way shuffles pays pure
    scheduler/task-launch floor — exactly what a real engine's adaptive
    DOP sizes away by looking at input statistics before planning. This
    sets the session's shuffle DOP to
    ``clamp(ceil(total_parquet_bytes / 4 MiB), 4, default_parallelism)``
    for the given scale directory:

    * sf0.1 (17.5 MB)  → 5-way shuffles (AQE still coalesces below)
    * 10× fixture (~175 MB) → core-count ceiling — UNCHANGED behavior
    * any real multi-GB/TB layout → core-count ceiling — UNCHANGED

    So the policy only removes small-input floor; the scale path keeps
    the cores ceiling and AQE does the runtime sizing. Only local
    directories are probed (``os.walk``, so nested parquet layouts
    count too): a remote URI (hdfs/s3) skips tuning entirely and the
    cluster's configured DOP stands. Statistics are memoized per
    (session, directory) — one walk per directory per session; the
    conf is re-asserted per load because interleaved queries over
    DIFFERENT scale dirs (the scale-trend harness) must each plan at
    their own input's DOP.

    DISCLOSED session-global semantics: the conf is
    LAST-WRITER-WINS on the session. A single plan that joins tables
    loaded from two different scale dirs plans at whichever directory
    loaded last — acceptable because the value is a pre-AQE *ceiling*
    (AQE coalesces oversized plans back down at runtime; the failure
    mode is bounded extra tasks, never wrong results), and every
    declared query loads from exactly one dir. The setting also stands
    for later non-load work on the session until the next load
    re-asserts it — same bounded-cost argument for the DOP; the AQE
    regime flip has a wider radius (after a tiny load, ad-hoc
    non-engine queries at scale lose skew handling/coalescing until the
    next load). Callers that need a pinned conf scope it with
    :func:`scoped_sql_conf`, which keeps streaming drains unaffected.
    """
    memo = session_memo(spark, _SHUFFLE_TUNE_MEMO_ATTR)
    n = memo.get(sf_dir) if memo is not None else None
    if n is None:
        total = input_dir_bytes(spark, sf_dir)
        if total is None or total <= 0:
            return
        n = max(
            _SHUFFLE_TUNE_MIN_PARTITIONS,
            min(
                default_parallelism(),
                -(-total // _SHUFFLE_TUNE_BYTES_PER_PARTITION),
            ),
        )
        n = (n, total <= _AQE_OFF_INPUT_BYTES)
        if memo is not None:
            memo[sf_dir] = n
    dop, tiny = n
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") != str(dop):
            spark.conf.set("spark.sql.shuffle.partitions", str(dop))
        # Execution-regime half of the same policy (the CC loop's
        # tiny-graph regime, generalized to every query):
        # below ~64 MB of input, adaptive re-planning buys nothing — the
        # data cost per stage is sub-scheduler-floor — but it CHARGES one
        # scheduler job per materialized exchange (every broadcast build
        # and every shuffle stage becomes its own job), which at sf0.1
        # was most of a 282-job / ~14 s fixed floor across 98 queries
        # (FLOOR_r12.json). Static planning executes the same plans as
        # one job each; parquet size statistics still drive the same
        # broadcast selections at this scale. Larger inputs keep AQE —
        # skew splitting and runtime coalescing matter exactly there.
        # Perf-only either way: AQE never changes results. Same
        # last-writer-wins session semantics as the DOP above.
        want_aqe = "false" if tiny else "true"
        if spark.conf.get("spark.sql.adaptive.enabled") != want_aqe:
            spark.conf.set("spark.sql.adaptive.enabled", want_aqe)
    except Exception:  # pragma: no cover - conf set on odd builds
        pass


@contextmanager
def scoped_sql_conf(spark: SparkSession, confs: dict[str, str]):
    """Temporarily set runtime SQL confs, restoring prior values on exit.

    For driver-side iterative loops that execute many tiny actions
    (connected components' fixpoint rounds): the loop can pick an
    execution regime for its own actions — e.g. disabling adaptive
    re-planning when the iteration state is statistically tiny — without
    leaking the choice into the caller's session. Restores even on
    exception. NOT thread-safe across concurrently planning queries on
    the same session (the engine's harnesses execute queries
    sequentially; a concurrent deployment would scope confs per-query
    via SparkSession.newSession() instead)."""
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in saved.items():
            try:
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)
            except Exception:  # pragma: no cover - conf set on odd builds
                pass


def plan_size_bytes(df) -> int | None:
    """Catalyst's size estimate for ``df``'s plan — no job, no action.

    Consults the session cache manager FIRST: for a persisted-and-
    materialized frame (the memoized family artifacts), the in-memory
    relation's computed stats are the REAL materialized bytes, while the
    logical plan's estimate can be astronomically off (a multiplicative
    join-cardinality estimate measured at 2.1e23 "bytes" for a 580-row
    cached pair table). Falls back to the optimized plan's estimate —
    accurate for file scans (file size), planner-grade for joins/aggs,
    which is all a planner ever has. ``None`` when the JVM plan handle
    is unavailable (Connect-style sessions)."""
    try:
        cached = (
            df.sparkSession._jsparkSession.sharedState()
            .cacheManager()
            .lookupCachedData(df._jdf)
        )
        if cached.isDefined():
            return int(
                cached.get().cachedRepresentation().computeStats().sizeInBytes()
            )
    except Exception:
        pass
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


def session_memo(spark, attr: str) -> dict | None:
    """Fetch-or-create a memo dict stored ON the session object under
    ``attr`` — the one shared implementation of the per-session memo
    pattern (:func:`memo_df`, the scan-plan memo in
    :mod:`.sources.parquet`, the fitted quantile splits). Dies with the
    session; returns ``None`` when the session object rejects attributes
    (slotted/proxied sessions), in which case callers just skip
    memoization."""
    memo = getattr(spark, attr, None)
    if memo is None:
        memo = {}
        try:
            setattr(spark, attr, memo)
        except Exception:  # pragma: no cover - slotted/proxied sessions
            return None
    return memo


def memo_df(spark, key: tuple, builder, max_entries: int = 16):
    """Session-scoped memo of *materialized* DataFrames (eager
    ``localCheckpoint``), keyed on ``key`` (include every input that
    determines the result, e.g. ``("minhash_pairs", sf_dir)``).

    The production shape this models: a pipeline computes an expensive
    shared stage (LSH candidate pairs, IVF assignments) ONCE and feeds
    every consumer from the materialization — here, the near-dup family
    (pairs / verified / edit / clusters) all consume the same candidate
    stage instead of re-deriving the minhash signatures per query
    (round-3 VERDICT next-round #3a). FIFO-bounded so a long session
    cannot accumulate unbounded cache; an evicted entry simply recomputes
    on next request. Results are deterministic, so memo vs fresh is
    observationally identical. ``max_entries`` must comfortably exceed
    the number of registered families (``MEMO_FAMILY_CONSUMERS``) — at
    parity, a single-directory session evicts its OLDEST family while
    inserting the newest and every consumer pass silently thrashes the
    whole memo; ``tests/test_rotation.py`` pins the headroom.

    The persisted artifact is REPARTITIONED to the session's shuffle DOP
    before caching. A narrow ``coalesce`` would be exchange-free but
    merges INTO the stage above it: the expensive build stage that
    ``rebalance_for_cpu`` fanned to cores partitions would run as only
    ``dop`` tasks (as low as 4-5 under ``tune_shuffle_for_input``),
    defeating the fan-out during the one-time cache build (round-12
    ADVICE). The round-robin exchange touches only the final artifact —
    thousands of rows — so its cost is noise next to the build it
    protects. Without either, the CPU fan-out that
    parallelizes the heavy signature map (``rebalance_for_cpu`` → cores
    partitions) leaks through broadcast joins into the artifact's layout
    — no downstream exchange re-sizes it, AQE's cached-plan coalescing
    only acts at shuffle boundaries — so a 2,935-row pair table cached
    as 32 near-empty shards and EVERY consumer query paid cores-many
    scan tasks per stage (measured round 12: 360 tasks/9 jobs per verify
    query at sf0.1). A production pipeline writing the artifact as a
    real table would size its files the same way; at cluster scale the
    conf is the cluster's configured DOP, so the cache keeps full read
    parallelism there.
    """
    # measurement/audit-only escape hatch: with the artifact plan now
    # truncated to a LogicalRDD leaf, plan auditors (tools/explain_audit)
    # can no longer read the build plan off the served frame — this
    # returns the raw builder output (deep plan, nothing cached) so the
    # build's physical properties stay auditable. Never set in
    # production paths: every consumer would rebuild the stage inline.
    if os.environ.get("SPARK_GRAFT_MEMO_BYPASS") == "1":
        import warnings

        # loud when active: a leaked env var silently disables all
        # memoization (every consumer rebuilds the stage inline), which
        # looks like a mysterious slowdown, not an error (r14 ADVICE)
        warnings.warn(
            "SPARK_GRAFT_MEMO_BYPASS=1: memo_df is disabled; every "
            "consumer rebuilds its family stage inline (audit mode)",
            stacklevel=2,
        )
        built = builder()
        # keep the audited plan identical to the physical build the
        # warmup pass executes: the artifact's final round-robin
        # exchange is part of that build (r14 ADVICE) — only the
        # checkpoint/memo steps are skipped here
        try:
            dop = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:  # pragma: no cover - conf read on odd builds
            dop = None
        return built.repartition(dop) if dop else built
    memo = session_memo(spark, _MEMO_ATTR)
    if memo is None:
        return builder()
    if key in memo:
        return memo[key]
    built = builder()
    # conf read AFTER builder(): the builder's load_table is what sizes
    # the session DOP from the input directory (tune_shuffle_for_input)
    try:
        dop = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # pragma: no cover - conf read on odd builds
        dop = None
    # localCheckpoint, not persist (round 14): the artifact's logical
    # plan TRUNCATES to a LogicalRDD leaf. A persisted frame keeps its
    # full build tree (the whole LSH/merge pipeline), and classic
    # Datasets analyze EAGERLY on every transformation — so each of a
    # consumer's ~15 chained ops re-analyzed the deep memo tree (and a
    # self-join doubled it): measured 0.5-1.0 s of pure driver-side
    # plan analysis per near-dup/graph consumer at sf0.1, the largest
    # line in the build floor (FLOOR_r14). Over a leaf the same chains
    # analyze in ~ms. Data-wise it is the same artifact (one eager
    # materialization job, paid at build time — visible in the bench's
    # cold/warmup column exactly like the old first-consumer fill);
    # layout-wise LogicalRDD preserves the repartition's partitioning,
    # which the CC loop and the served-IVF join already rely on.
    #
    # Cluster caveat (r14 ADVICE): localCheckpoint blocks live
    # UNREPLICATED on executors and the truncated lineage cannot
    # recompute them — under executor loss (preemption, dynamic
    # allocation) a consumer fails instead of rebuilding. That is the
    # documented constraint of this materialization: it models a local/
    # static-executor verification session; a cluster deployment with
    # dynamic executors should swap this for a reliable checkpoint or a
    # written-out table (the production shape the docstring describes).
    # Eviction note: the FIFO unpersist below releases persisted blocks
    # immediately, but a checkpointed RDD's blocks are only freed when
    # the py4j reference drops and the JVM ContextCleaner runs — under
    # eviction churn an evicted artifact can linger in storage memory
    # until GC.
    # Row-serialized leaf scans were A/B'd against a columnar
    # checkpoint-then-persist variant at the 10× fixture (r15, chasing
    # the q_table_diff regression): for the table-sized merged_orders
    # family the format moved the consumer <0.5 s (leaf 5.31 s vs
    # columnar 4.89 s) — the regression lived in snapshot_diff's plan
    # shape, not here. The leaf stays; the artifacts are small enough
    # that scan format is noise next to consumer-side work.
    df = (built.repartition(dop) if dop else built).localCheckpoint(
        eager=True
    )
    while len(memo) >= max_entries:
        # checkpointed RDD blocks are freed when the frame is GC'd;
        # unpersist is a no-op on them but still correct for any
        # legacy persisted entry in the memo.
        memo.pop(next(iter(memo))).unpersist()
    memo[key] = df
    return df


def collect_pandas(df, max_rows: int = 1_000_000):
    """K3 — guarded ``toPandas`` (reference nb2 cell 11 collects the full
    table for plotting). Collecting is only legitimate on small
    (post-aggregate) results; this refuses anything bigger than
    ``max_rows`` so a 100 TB table can never be pulled onto the driver by
    accident. ONE execution: collecting ``limit(max_rows + 1)`` bounds
    driver memory exactly like a count-then-collect guard, but runs the
    plan once instead of twice and leaves no window for the source to
    grow between the check and the collect. Arrow transfer is already
    enabled session-wide.
    """
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"refusing toPandas(): result exceeds {max_rows} rows; "
            "aggregate or sample first"
        )
    return pdf


#: Marker attribute set on a session object once :func:`ensure_session_confs`
#: has run on it. An attribute (not an id()-keyed set) so the memo dies with
#: the object: a stopped-and-GC'd session cannot leak its memo to a new
#: session that happens to reuse the same CPython id, and the memo cannot
#: grow unbounded across restarts.
_CONFD_MARKER = "_fbde4_spark_confs_applied"


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Set the engine's runtime-settable SQL confs on an existing session.

    Every public query entry point calls this defensively so the engine
    behaves identically under an externally created session (e.g. the
    verification driver's). Memoized per session object: each ``conf.set``
    is a py4j round-trip, and the per-table loader calls this on every
    load — unmemoized that is thousands of driver round-trips across a
    full bench/correctness run. Before trusting the memo we re-verify one
    sentinel conf (session timezone) so an externally reset conf — or a
    marker surviving a conf wipe — still gets re-applied.
    """
    sentinel_key = "spark.sql.session.timeZone"
    if getattr(spark, _CONFD_MARKER, False):
        try:
            if spark.conf.get(sentinel_key) == RUNTIME_CONFS[sentinel_key]:
                return spark
        except Exception:  # pragma: no cover - conf read on odd builds
            return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static confs on odd builds
            pass
    try:
        setattr(spark, _CONFD_MARKER, True)
    except Exception:  # pragma: no cover - slotted/proxied sessions
        pass
    return spark
