"""Registry plumbing for declared queries.

A query is registered with a builder ``(spark, sf_dir) -> DataFrame`` plus an
optional DuckDB-runnable oracle SQL string. The driver compares the two at
sf=0.01 with an order-insensitive value hash after sorting columns by name,
so builders must alias every computed column to the same name the oracle
uses (see repo instructions / SURVEY.md §5).

Cache lifetime: builders and their helpers persist only through
:func:`query_cache`, which records the frame in one module-level list.
:func:`register` wraps each builder; the OUTERMOST call (a builder
called from inside another does not count) first unpersists every frame
the previous query recorded. A query's caches thus live from its builder
call until the next query starts — callers build, sink, then build the
next — and a repeated call recomputes instead of reading the prior
call's cache (Spark's CacheManager matches on the canonicalized plan).
The list and the depth counter are process-global: builders are not
re-entrant across threads.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    """One declared capability: a Spark builder + its DuckDB oracle."""

    name: str
    builder: Builder
    oracle: str | None = None
    category: str = ""
    doc: str = ""
    #: queries worth timing at sf0.1 in bench.py
    bench: bool = False
    tags: tuple[str, ...] = field(default_factory=tuple)
    #: True = a protocol-correctness proof kept for didactic value, NOT a
    #: deployment shape — a cheaper registered twin is the scale default
    #: (named in the docstring). Machine-readable so the registry doubles
    #: as a deployment catalog: tools and docs can exclude these, and
    #: ``tests/test_registry_order.py`` requires every query probing
    #: >×3 at ×8 data to carry either this flag or a ``scale_note``.
    didactic: bool = False
    #: For deployment shapes whose ×8/×1 probe ratio exceeds ×3: one
    #: machine-readable line saying why the ratio is scale-safe (e.g.
    #: output-bound growth, sub-second denominator, sub-linear vs input).
    scale_note: str = ""


QUERIES: dict[str, Query] = {}

#: Frames persisted by the query being built or sunk (see module doc).
_QUERY_CACHES: list[DataFrame] = []
#: Registered-builder calls in progress; 0 between queries.
_builder_depth = 0


def query_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` until the next query's outermost builder call."""
    df = df.persist()
    _QUERY_CACHES.append(df)
    return df


def _release_query_caches() -> None:
    while _QUERY_CACHES:
        try:
            _QUERY_CACHES.pop().unpersist()
        except Exception:
            pass  # owning SparkSession already stopped — nothing to free


def register(
    name: str,
    oracle: str | None = None,
    category: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
    didactic: bool = False,
    scale_note: str = "",
) -> Callable[[Builder], Builder]:
    """Decorator: register ``fn`` as the builder for query ``name``,
    wrapped so its outermost call releases the previous query's caches."""

    def wrap(fn: Builder) -> Builder:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def build(*args, **kwargs) -> DataFrame:
            global _builder_depth
            if _builder_depth == 0:
                _release_query_caches()
            _builder_depth += 1
            try:
                return fn(*args, **kwargs)
            finally:
                _builder_depth -= 1

        QUERIES[name] = Query(
            name=name,
            builder=build,
            oracle=oracle,
            category=category,
            doc=(fn.__doc__ or "").strip(),
            bench=bench,
            tags=tags,
            didactic=didactic,
            scale_note=scale_note,
        )
        return build

    return wrap


def int_ratio_round_sql(num: str, den: str, decimals: int, div: str) -> str:
    """``round(num/den, decimals)`` in EXACT integer arithmetic.

    ``num``/``den`` are integer SQL expressions (``den`` > 0); ``div``
    is the engine's integer-division token (Spark ``div``, DuckDB
    ``//`` — both floor, and the CASE keeps numerators non-negative so
    floor == truncate). Rationale: a rational of integers can land
    exactly on a decimal half, where Spark's decimal HALF_UP and
    DuckDB's binary-double rounding diverge — the r14 sf0.1 drive
    caught ``text_quality_classifier`` flipping 0.0863/0.0862 this way.
    Here the tie resolves half-away-from-zero in BOTH engines and the
    only float op is the final division of the same integer.

    Both operands are widened to BIGINT *inside* the helper: Spark
    callers often pass IntegerType expressions (``F.length``,
    ``F.size``), and INT*INT stays 32-bit in Spark — ``(num) * 20000``
    silently wraps (ANSI off) past ~107k-char texts while DuckDB's
    ``len()`` is already BIGINT, breaking the exact-integer contract
    (r14 ADVICE, medium).

    A zero denominator yields NULL in BOTH engines (``NULLIF`` guard):
    a ratio over an empty denominator is undefined, and without the
    guard an empty document crashes the whole query under Spark's ANSI
    division instead of degrading to a NULL signal (r16 edge-fixture
    drive: ``text_quality_score`` on ``text=''``).
    """
    scale = 10**decimals
    num64 = f"CAST(({num}) AS BIGINT)"
    den64 = f"NULLIF(CAST(({den}) AS BIGINT), 0)"
    return (
        f"CAST(CASE WHEN {num64} >= 0"
        f" THEN ({num64} * {2 * scale} + {den64}) {div} (2 * {den64})"
        f" ELSE -((-{num64} * {2 * scale} + {den64}) {div} (2 * {den64}))"
        f" END AS DOUBLE) / {scale}"
    )


#: Cosine similarity is undefined for the zero vector, so every
#: cosine-family operator (scorers, LSH/IVF/PQ index builds, the
#: admission lifecycle, the dedup cosine baseline) excludes zero-norm
#: rows AT STAGING, on both engines — the contract faiss and sklearn
#: enforce by erroring. Without the shared gate the engines silently
#: diverge: Spark ANSI raises DIVIDE_BY_ZERO where DuckDB's double
#: division yields NULL (and numpy yields NaN) — caught across 17
#: registered queries by the r16 adversarial-embeddings edge axis.
#: Evaluated on the DOUBLE-cast array on BOTH sides: float32 squares of
#: subnormal components (1e-30 in the edge fixture) would underflow to
#: a spurious zero norm if either engine squared before promoting.
#: Hygiene queries (norm stats, standardize, scalar quantize) keep zero
#: rows deliberately: zero is data to an auditor, poison to a cosine.
#: Defined here (not in plans/similarity.py) so dedup.py shares the
#: SAME literal without perturbing the plans/__init__ import order that
#: fixes the registry — and therefore the driver slate — ordering.
NONZERO_VEC_SQL = (
    "list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0"
)


def nonzero_vec(v) -> "Column":
    """Spark twin of :data:`NONZERO_VEC_SQL` — apply to the DOUBLE-cast
    vector column (conventionally ``v``), never the raw float array.

    Implemented as ``EXISTS(x != 0)``, not the literal sum-of-squares
    fold: for finite components the predicates are identical (a sum of
    squares is positive iff some component is nonzero — including
    subnormals, since the element compares against 0 BEFORE squaring),
    and exists short-circuits at the first nonzero component where the
    fold walks all 64 — which moreover showed up DUPLICATED across
    Filter and Project under projection collapse, a measured +33% on
    ``knn_lsh_cosine`` staging. Fixture contract: components are
    finite (a NaN component would pass here but be excluded by the
    oracle's NULL-propagating dot)."""
    from pyspark.sql import functions as F

    return F.exists(v, lambda x: x != F.lit(0.0))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one test table (TESTDATA.md layout).

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's reader rejects;
    with ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as long nanos
    and is converted here to a microsecond TIMESTAMP_NTZ — the identical
    truncation DuckDB applies, keeping oracle parity exact.

    The conf is set here on the *live* session (it is a runtime SQL conf),
    not only in :func:`session.get_spark`, so builders work under any
    caller-provided SparkSession — e.g. the driver's vanilla
    ``SparkSession.builder.getOrCreate()``.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # Runtime-settable; only affects TIMESTAMP(NANOS) columns, which
        # exist solely in the events fixture.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        # Pure NTZ arithmetic — NOT timestamp_micros(...).cast(ntz), which
        # routes through a session-TZ LTZ value and shifts wall-clock under
        # non-UTC sessions (caught by test_session_independence).
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


def parallelize_scan(df: DataFrame) -> DataFrame:
    """Fan a badly-split scan out to the cluster before per-row-heavy work.

    The optimization-guide "input skew" case (§2.5): a scan whose file
    layout yields far fewer splits than the cluster has cores (here: the
    single-row-group fixture parquet gives exactly ONE task) serializes
    every downstream narrow operator — shingle explodes, banded
    Levenshtein DP, vector folds all run on one core while the rest of
    the machine idles. When the planned scan parallelism is below half
    of ``defaultParallelism``, pay one round-robin exchange of the
    input rows to spread the heavy per-row compute; otherwise return
    the scan untouched. On a production layout (many files / row
    groups) the guard makes this a no-op, so nothing here is tuned to
    the local fixture — the repartition width itself follows the
    live cluster via ``defaultParallelism``.

    Apply ONLY where per-row work dominates the exchange cost (HOF
    pipelines, DP verifies, digest fans) — for cheap columnar
    aggregates the extra exchange is a net loss.

    The guard is SIZE-based, not planned-partition-count based: Spark
    happily plans a single-row-group file into N byte-range splits, but
    only the split containing the row-group midpoint carries rows, so
    the planned count over-reports real parallelism (observed: the
    10.8 MB lineitem fixture "split" 32 ways, 1 task with all 600k
    rows). When the whole input is smaller than one full wave of
    maxPartitionBytes splits, the round-robin exchange is bounded by
    that same small size — cheap by construction — while a
    production-scale input skips the repartition entirely.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    size = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    # JVM accessor, not conf.get(): the string form is "128MB" under a
    # vanilla session (only explicitly-set values round-trip as ints).
    max_split = int(
        df.sparkSession._jsparkSession.sessionState()
        .conf()
        .filesMaxPartitionBytes()
    )
    if size < target * max_split:
        return df.repartition(target)
    return df


def pin_width(df: DataFrame, *cols: str) -> DataFrame:
    """AQE-non-coalescable width pin for a keyed exchange feeding
    per-row-heavy work (guide §2.2/§2.5).

    AQE's partition coalescing sizes post-shuffle partitions by BYTES,
    so a few-MB intermediate collapses to a handful of tasks even when
    the work per row downstream (posting-list pair expansion, HOF
    folds) is orders of magnitude heavier than the bytes suggest —
    measured: the shingle-postings stages of the jaccard/containment
    family ran 2-3.6s of executor time on 4-6 tasks while 32 cores
    idled. ``repartition(N, key)`` plans a REPARTITION_BY_NUM exchange
    (user-pinned partition count, exempt from AQE coalescing) that
    ALSO satisfies the downstream window/groupBy's distribution
    requirement on the same key — so it replaces that operator's own
    exchange rather than adding one. The width is
    ``max(defaultParallelism, spark.sql.shuffle.partitions)`` (r17,
    ADVICE r16): the pin exists to prevent the fixture-scale COLLAPSE,
    never to shrink a shuffle — on a production cluster where
    ``shuffle.partitions`` is sized well above core count (so keyed
    state like the posting-list ``collect_list`` stays within per-task
    memory), the pin keeps that width instead of capping it at core
    count.

    Caveat (ADVICE r16): because the explicit repartition already
    satisfies the downstream aggregate's distribution requirement,
    BOTH the partial and final aggregate run post-shuffle — map-side
    partial aggregation before the exchange is lost. Immaterial ahead
    of ``collect_list``/``collect_set`` (no pre-shuffle reduction
    exists anyway — every row ships regardless); do NOT reuse this
    pattern ahead of REDUCING aggregates (sum/count/min/max), where
    the lost partial aggregation would inflate shuffle bytes by the
    per-key row multiplicity."""
    spark = df.sparkSession
    width = spark.sparkContext.defaultParallelism
    try:
        width = max(width, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):
        pass  # non-integer value (e.g. vendor "auto"): keep core count
    return df.repartition(width, *cols)


def queries() -> dict[str, Builder]:
    """name -> builder, the shape ``__spark_entry__.queries`` returns."""
    return {name: q.builder for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """name -> oracle SQL for every query that has one."""
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
