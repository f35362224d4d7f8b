r"""Deduplication capability queries over ``documents`` / ``embeddings``.

Driver mandate (BASELINE.json): exact dedup, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup. Every variant is built to be 100 TB-safe:
candidate generation always goes through a blocking/banding key (never an
unconstrained cross join), and the only full-corpus shuffles key on bounded
cardinalities (fingerprints, band values, block keys).

MinHash here is string-MinHash: ``min`` over 32-bit (8-hex-char) pieces of
seeded md5 digests (4 pieces per digest — see ``_minhash_signatures``). md5
exists in both Spark and DuckDB with identical output, which makes the whole
LSH pipeline — signatures, bands, candidate pairs — hash-checkable against
the oracle, unlike engine-specific hash functions (xxhash64 has no DuckDB
twin, so the SimHash query is a rows-only check).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_preparation_plugin_spark.functions.hashing import minhash_hex
from data_preparation_plugin_spark.functions.vector import l2_norm
from data_preparation_plugin_spark.functions.text import exploded_shingles
from data_preparation_plugin_spark.functions.text import shingles as _shingles
from data_preparation_plugin_spark.functions.text import tokens as tokens_col
from data_preparation_plugin_spark.plans.registry import (
    NONZERO_VEC_SQL,
    QUERIES,
    int_ratio_round_sql,
    load_table,
    nonzero_vec,
    parallelize_scan,
    pin_width,
    query_cache,
    register,
)
from data_preparation_plugin_spark.plans.text import (
    URL_CANON_SQL,
    URL_SYNTH_SQL,
)

#: MinHash parameters: 8 hash functions in 4 bands of 2 rows.
#: P(candidate | J) = 1 - (1 - J^2)^4 — ~0.9 at J=0.7, ~0.04 at J=0.1.
MINHASH_SEEDS = 8
MINHASH_BANDS = 4
SHINGLE_SIZE = 3
#: Shingles occurring in more than this many documents are dropped before
#: pair generation ("stop shingles") — bounds the per-bucket pair blow-up.
MAX_SHINGLE_DF = 100
#: Exact all-pairs cosine dedup is O(n^2); the declared baseline bound.
DEDUP_COSINE_SAMPLE = 1000


def shingles_col(text: Column, k: int = SHINGLE_SIZE) -> Column:
    """k-word shingles of normalized text; whole text if shorter than k."""
    return _shingles(text, k)


_SHINGLES_SQL = r"""
        CASE WHEN len(tokens) >= 3
             THEN list_transform(range(1, len(tokens) - 1),
                                 i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])
             ELSE [array_to_string(tokens, ' ')] END
"""


@register(
    "dedup_exact_fingerprint",
    category="dedup",
    bench=True,
    oracle=r"""
    SELECT fingerprint, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
    FROM (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
        FROM documents
    )
    GROUP BY fingerprint
    """,
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint: one hash-shuffle on the digest.

    The 100 TB shape: shuffle moves (digest, doc_id) pairs only — never the
    text — and the representative choice (min id) is deterministic.

    NOT fanned out (`parallelize_scan`): one md5 over the normalized
    text is too cheap per row — the r16 A/B measured the extra
    exchange of the full text at 0.30s -> 0.58s, a net loss.
    """
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return (
        docs.select("doc_id", F.md5(normalized).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id -> h0..h{n-1} string-MinHash signature columns.

    Two md5 calls per shingle, not eight: each 128-bit digest is split into
    four independent 32-bit (8-hex-char) pieces, giving the 8 hash
    functions at a quarter of the hashing cost — the standard
    few-seeds-many-pieces MinHash construction. ``substr`` on the hex
    digest is engine-identical, so the oracle reproduces every piece.

    No ``distinct()`` on (doc_id, shingle): ``min`` is duplicate-insensitive,
    so deduplicating first would only add a full shuffle of the shingle
    strings before the aggregation shuffle. With partial (map-side)
    aggregation the only shuffle moves 8 hex pieces per document.

    ``min`` over the hex STRING pieces, although that means the keyed
    aggregate runs as Sort+SortAggregate (immutable string buffers):
    the numeric alternative — ``min(conv(piece, 16, 10))``, valid
    because fixed-width lowercase hex is order-isomorphic to its 32-bit
    value, converting back via lpad(hex()) after the agg — was A/B'd in
    r13 and LOST (same-session interleaved best-of-5 at sf0.1: 0.96s
    string-min vs 1.32s long-min). Parsing 8 conv() per shingle
    map-side costs more than the sort it avoids; the sorted stream is
    narrow (doc_id + 2 digests) and mostly pre-aggregated. Contrast
    ``profile_table_columns``, where evicting string min/max from an
    Expand aggregate DID win 1.9x — there the sort covered a 6x-expanded
    corpus and the fix added no per-row parsing.

    The input is fanned out first (``parallelize_scan``): the shingle
    HOF + two md5 calls per shingle are per-row-heavy, and a
    badly-split scan (the single-row-group fixture file) otherwise
    runs the whole digest pipeline on one core (guide §2.5).
    """
    exploded = exploded_shingles(
        parallelize_scan(docs), ["doc_id"], "text", SHINGLE_SIZE
    )
    digests = exploded.select(
        "doc_id",
        *[
            minhash_hex(F.col("shingle"), m).alias(f"d{m}")
            for m in range(MINHASH_SEEDS // 4)
        ],
    )
    aggs = [
        F.min(F.substring(F.col(f"d{s // 4}"), 8 * (s % 4) + 1, 8)).alias(f"h{s}")
        for s in range(MINHASH_SEEDS)
    ]
    return digests.groupBy("doc_id").agg(*aggs)


def minhash_band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_val) posting rows from signature columns.

    One in-row explode of ``MINHASH_BANDS`` structs — the LSH banding
    step shared by the one-shot pair generator, the incremental probe,
    and the persisted band index (``curation_incremental_ingest_indexed``
    writes exactly these rows as the standing archive's index table).
    """
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat(F.col(f"h{2*b}"), F.col(f"h{2*b+1}")).alias(
                    "band_val"
                ),
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("band")).select(
        "doc_id",
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_val").alias("band_val"),
    )


def _minhash_sql(select: str) -> str:
    """Build the shared CTE prefix of the MinHash oracle queries."""
    mins = ",\n               ".join(
        f"min(substr(md5('{s // 4}:' || shingle), {8 * (s % 4) + 1}, 8)) AS h{s}"
        for s in range(MINHASH_SEEDS)
    )
    bands = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, h{2*b} || h{2*b+1} AS band_val FROM sigs"
        for b in range(MINHASH_BANDS)
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), shingled AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS shingle
        FROM toks
    ), sigs AS (
        SELECT doc_id,
               {mins}
        FROM shingled
        GROUP BY doc_id
    ), bands AS (
        {bands}
    )
    {select}
    """


@register(
    "dedup_minhash_signatures",
    category="dedup",
    oracle=_minhash_sql(
        "SELECT doc_id, "
        + ", ".join(f"h{s}" for s in range(MINHASH_SEEDS))
        + " FROM sigs"
    ),
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature (8 string-min hashes over 3-shingles)."""
    return _minhash_signatures(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_minhash_lsh_pairs",
    category="dedup",
    bench=True,
    oracle=_minhash_sql(
        """
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        """
    ),
)
def dedup_minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, *, sigs: DataFrame | None = None
) -> DataFrame:
    """MinHash-LSH candidate pairs: band signatures, bucket-join, dedup.

    The join keys on (band_idx, band_val) — documents only meet inside a
    band bucket, so cost scales with bucket sizes (collision probability),
    never |docs|^2. This is the scale path for fuzzy dedup at 100 TB.

    ``sigs``: a precomputed ``_minhash_signatures`` frame (e.g. a cached
    one a composing audit also reads), so composition does not re-run
    the signature front per consumer. The default builds it fresh —
    the registered (spark, sf_dir) contract is unchanged.
    """
    if sigs is None:
        sigs = _minhash_signatures(load_table(spark, sf_dir, "documents"))
    bands = minhash_band_rows(sigs)
    # Pairs are generated *inside* each bucket from a sorted doc_id array —
    # a single shuffle on the band key — instead of a bands⋈bands self-join,
    # which would shuffle both sides AND recompute the whole signature
    # pipeline twice (self-joins re-execute their lineage per side). Bucket
    # sizes are bounded by band-collision probability, so the per-bucket
    # array and its pair expansion stay small at any corpus size.
    buckets = bands.groupBy("band_idx", "band_val").agg(
        F.array_sort(F.collect_set("doc_id")).alias("ids")
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.filter(F.size("ids") > 1)
        .select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


@register(
    "dedup_ngram_jaccard",
    scale_note="output-bound: true J>=0.5 pairs grow x610 under the x8 replica fixture while wall grows x12.6; df-capped posting expansion, nothing all-pairs",
    category="dedup",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), shingled AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS shingle
        FROM toks
    ), kept AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle,
                   count(*) OVER (PARTITION BY shingle) AS df
            FROM shingled
        ) WHERE df <= {MAX_SHINGLE_DF}
    ), sizes AS (
        SELECT doc_id, count(*) AS n_shingles FROM kept GROUP BY doc_id
    ), overlap AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM kept a
        JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a,
           doc_b,
           {int_ratio_round_sql(
               "n_common",
               "sa.n_shingles + sb.n_shingles - n_common", 4, "//")}
               AS jaccard
    FROM overlap
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_common * 1.0 / (sa.n_shingles + sb.n_shingles - n_common) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (J >= 0.5), inverted-index style.

    Candidates come from co-occurrence in a shingle posting list, with
    high-document-frequency "stop shingles" pruned first so no posting list
    (and hence no bucket self-join) can blow up — the classic bound that
    keeps exact Jaccard feasible on large corpora.

    Cost (SCALE_PROBE_r12): ×12.6 at the ×8 probe BECAUSE the answer
    grows — the replica corpus makes every doc an 8-way near-dup family,
    so true J>=0.5 pairs grow ×610 (256 → 156,256 measured same-run)
    while wall grows only ×12.6. Work tracks candidates/output, never
    corpus²; on a corpus whose duplicate rate doesn't grow with size,
    this plan scales with the posting lists (df-capped), like the
    ×11.1/×1836-pairs `dedup_edit_distance_verify` precedent.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    shingled = exploded_shingles(
        docs, ["doc_id"], "text", SHINGLE_SIZE, distinct=True
    )
    df_counts = shingled.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # No broadcast hint: the kept-shingle vocabulary is nearly the whole
    # corpus vocabulary (only stop-shingles are dropped) and grows with
    # data — a forced broadcast would OOM executors at scale. Left to AQE,
    # this is a shuffle join at 100 TB and an automatic broadcast at test
    # scale; both are valid plans.
    kept = (
        shingled.join(df_counts.filter(F.col("df") <= MAX_SHINGLE_DF), "shingle")
        .select("doc_id", "shingle")
    )
    from pyspark.sql.window import Window

    # Per-doc set sizes ride along as a window count, so the whole query is
    # one lineage — no sizes side-branch re-executing the shingle pipeline
    # and no post-hoc size joins. Both keyed exchanges are width-pinned
    # (pin_width): AQE coalesced them to 4-6 tasks at fixture scale,
    # serializing the posting-list pair expansion.
    sized = pin_width(kept, "doc_id").withColumn(
        "n_shingles", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    # Pairs expand inside each posting list (sorted struct array, same
    # pattern as the LSH buckets) instead of a kept⋈kept self-join, which
    # would shuffle twice and re-execute the shingle pipeline per side.
    # List length is capped at MAX_SHINGLE_DF, bounding every expansion.
    postings = pin_width(sized, "shingle").groupBy("shingle").agg(
        F.array_sort(
            F.collect_list(F.struct("doc_id", "n_shingles"))
        ).alias("ids")
    )
    pair_expand = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    x["n_shingles"].alias("na"),
                    y["doc_id"].alias("doc_b"),
                    y["n_shingles"].alias("nb"),
                ),
            ),
        )
    )
    overlap = (
        postings.filter(F.size("ids") > 1)
        .select(F.explode(pair_expand).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.na").alias("na"),
            F.col("p.doc_b").alias("doc_b"),
            F.col("p.nb").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jaccard = F.col("n_common") * 1.0 / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    # The >= 0.5 gate is float-safe (c/u == 0.5 is binary-exact in both
    # engines); the 4-decimal report uses the exact-integer rounding
    # (registry.int_ratio_round_sql) because an integer-rational can
    # land on a decimal half where the engines' round() diverge.
    return overlap.filter(jaccard >= 0.5).select(
        "doc_a",
        "doc_b",
        F.expr(
            int_ratio_round_sql("n_common", "na + nb - n_common", 4, "div")
        ).alias("jaccard"),
    )


_SIMHASH_BITS = 16
_SIMHASH_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ), hashed AS (
        SELECT doc_id, ('0x' || substr(md5(token), 1, 4))::BIGINT AS h
        FROM tok
    ), bits AS (
        SELECT doc_id,
               {", ".join(
                   f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
                   f" AS bit{b}"
                   for b in range(_SIMHASH_BITS)
               )}
        FROM hashed
        GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({" + ".join(
               f"(CASE WHEN bit{b} > 0 THEN {1 << b} ELSE 0 END)"
               for b in range(_SIMHASH_BITS)
           )} AS BIGINT) AS simhash16
    FROM bits
"""


@register("dedup_simhash", category="dedup", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (md5-derived token hashes, sign-aggregated).

    Token hash = first 16 bits of md5 — md5 is bit-identical in Spark and
    DuckDB, which makes the whole signature oracle-checkable (xxhash64
    would be faster per-token but has no DuckDB twin; at scale swap the
    hash back and keep the identical shape). Hamming-near signatures
    cluster near-duplicate docs; 16 bits keeps the demo compact while the
    shape (explode -> per-bit sign sums -> reassemble) is the real one.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    hashed = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("token"), 1, 4), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # Branchless bit majorities: sum the raw bit (0/1) and compare the
    # ones-count to half the token count — sum(+-1) > 0 <=> 2*ones > n,
    # identical to the oracle's CASE form but ~2x faster in codegen
    # (measured on the 48-bit sibling below).
    bit_sums = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(
                f"one{b}"
            )
            for b in range(16)
        ]
    )
    simhash = None
    for b in range(16):
        term = F.when(
            F.col(f"one{b}") * 2 > F.col("n_tok"), F.lit(1 << b)
        ).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return bit_sums.select(
        "doc_id", simhash.cast("long").alias("simhash16")
    )


@register(
    "dedup_embedding_cosine",
    category="dedup",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings
        WHERE vec_id < {DEDUP_COSINE_SAMPLE}
          AND {NONZERO_VEC_SQL}
    )
    SELECT a.vec_id AS vec_a,
           b.vec_id AS vec_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cosine
    FROM e a
    JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= 0.4, exact, over a bounded sample.

    Exact all-pairs is inherently O(n^2) — the declared
    ``DEDUP_COSINE_SAMPLE`` bound keeps this the *verification baseline*
    it is meant to be; the full-corpus path is LSH blocking
    (plans/similarity.py knn_lsh_*), which replaces the pair space with
    per-bucket joins. Per-vector norms are computed once before the join
    (the identical left-fold doubles, so oracle parity is untouched)
    instead of per pair — 3x less work inside the quadratic stage.
    """
    # Fan out after the sample filter: the quadratic pair loop (64-dim
    # HOF folds) otherwise runs inside the one-task scan stage of the
    # single-row-group fixture file (guide §2.5).
    emb = parallelize_scan(
        load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < DEDUP_COSINE_SAMPLE
        )
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    with_norm = emb.withColumn("n", l2_norm(F.col("v"))).filter(
        nonzero_vec("v")  # registry.NONZERO_VEC_SQL contract
    )
    a = with_norm.alias("a")
    b = with_norm.alias("b")
    # zip_with+aggregate, NOT a 64-term unrolled element_at sum: the
    # unroll was A/B'd in r13 and LOST (4.9s -> 9.2s best-of-3 at
    # sf0.1) — at 64 dims the expression tree exceeds what codegen
    # handles well and falls back to interpreted expression evaluation,
    # which is slower than the one-pass HOF fold (contrast the 8-dim
    # PQ subspaces in similarity.py, where unrolling wins).
    dot = F.aggregate(
        F.zip_with("a.v", "b.v", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cosine = dot / (F.col("a.n") * F.col("b.n"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cosine_raw", cosine)
        .filter(F.col("cosine_raw") >= 0.4)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round("cosine_raw", 4).alias("cosine"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Min-label propagation connected components: (node, label) per node.

    The step every fuzzy-dedup pipeline needs after candidate pairs:
    transitively close them into duplicate clusters. Each iteration is one
    distributed join + min-aggregate (labels flow across edges both ways);
    the loop runs on the driver but touches no data there — the standard
    Spark pattern for iterative graph algorithms. ``localCheckpoint``
    truncates lineage each round so plan depth stays O(1) instead of
    O(iterations). Converges in O(component diameter) rounds — small for
    near-dup clusters, bounded by ``max_iter`` as a safety rail.

    Convergence detection is folded into the label aggregation: each
    node's own previous label rides along the union (``own`` flag) so the
    same groupBy that computes the new min-label also recovers the old
    one. The changed-probe is then a filter over the just-checkpointed
    result — no join against the previous labels, one checkpoint job plus
    one cheap local-scan count per round (the round-2 version paid an
    extra shuffle join per round for the same answer).

    At extreme scale (a giant component with a large diameter — not the
    near-dup regime, where clusters are small and dense), min-label
    propagation's O(diameter) rounds become the bottleneck; the documented
    escape hatch is the large-star/small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14), which
    converges in O(log^2 n) rounds with the same (node, label) contract —
    a drop-in replacement for this loop if profiles ever show it.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # Materialize the symmetric edge list once: labels then flow both ways
    # through a single join per round instead of separate fwd/bwd joins.
    bidir = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    labels = (
        bidir.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        prop = bidir.join(labels, bidir.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        new = (
            labels.select("node", "label", F.lit(True).alias("own"))
            .unionByName(prop.withColumn("own", F.lit(False)))
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                # Every node contributes exactly one own=True row, so this
                # recovers its previous label inside the same shuffle.
                F.min(F.when(F.col("own"), F.col("label"))).alias(
                    "old_label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.filter(F.col("label") != F.col("old_label")).limit(1).count()
        )
        labels = new.select("node", "label")
        if changed == 0:
            break
    return labels


#: Shared recursive-closure CTE chain: LSH pairs -> symmetric edges ->
#: reachability -> per-node component minimum (as CTE ``clusters``).
_CLUSTERS_CTE = (
    "WITH RECURSIVE pairs AS ("
    + _minhash_sql(
        """
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        """
    )
    + """),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT DISTINCT src AS node, src AS r FROM edges
        UNION
        SELECT e.dst AS node, reach.r FROM reach
        JOIN edges e ON e.src = reach.node
    ),
    clusters AS (
        SELECT min(r) AS cluster_rep, node AS doc_id
        FROM reach
        GROUP BY node
    )
    """
)

_CLUSTERS_ORACLE = _CLUSTERS_CTE + "SELECT cluster_rep, doc_id FROM clusters"


@register("dedup_minhash_clusters", category="dedup", oracle=_CLUSTERS_ORACLE)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: LSH pairs transitively closed, min-id keeper.

    Completes the MinHash pipeline end-to-end: signatures -> banded
    candidate pairs -> connected components -> one row per clustered doc
    with its cluster representative (the minimum doc_id, the deterministic
    "keeper" of the duplicate group). The Spark side iterates min-label
    propagation (a fixpoint no single Spark statement expresses); the
    oracle reaches the same fixpoint as a DuckDB recursive CTE computing
    reachability closure — min reachable node == component minimum.
    """
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    return (
        connected_components(pairs, src="doc_a", dst="doc_b")
        .select(
            F.col("label").alias("cluster_rep"),
            F.col("node").alias("doc_id"),
        )
    )


#: Synthetic "benchmark" membership: every 23rd doc_id acts as the held-out
#: eval set the corpus must be decontaminated against.
DECON_PROBE_MOD = 23


@register(
    "dedup_decontaminate",
    category="dedup",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), shingled AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS shingle
        FROM toks
    ), probe AS (
        SELECT DISTINCT shingle FROM shingled
        WHERE doc_id % {DECON_PROBE_MOD} = 0
    )
    SELECT s.doc_id, count(*) AS n_contaminated_ngrams
    FROM shingled s
    JOIN probe p ON s.shingle = p.shingle
    WHERE s.doc_id % {DECON_PROBE_MOD} <> 0
    GROUP BY s.doc_id
    """,
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing n-grams with a
    held-out probe set (the standard pre-training hygiene pass).

    The probe side is the *benchmark suite* — small and fixed-size by
    nature (thousands of eval documents, not corpus-sized), so its distinct
    shingle set is explicitly broadcast: each corpus partition checks its
    shingles against an in-memory set, no shuffle of the corpus side at
    all. Scales as O(corpus) map work regardless of corpus size; the
    reported count is distinct contaminated n-grams per document.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    shingled = exploded_shingles(
        docs, ["doc_id"], "text", SHINGLE_SIZE, distinct=True
    )
    probe = (
        shingled.filter(F.col("doc_id") % DECON_PROBE_MOD == 0)
        .select("shingle")
        .distinct()
    )
    corpus = shingled.filter(F.col("doc_id") % DECON_PROBE_MOD != 0)
    return (
        corpus.join(F.broadcast(probe), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )


#: Non-overlapping token-chunk width for cross-document segment dedup.
SEGMENT_TOKENS = 4


@register(
    "dedup_segments_cross_doc",
    category="dedup",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents
    ), chunks AS (
        SELECT doc_id,
               md5(array_to_string(
                   toks[i*{SEGMENT_TOKENS}+1 : i*{SEGMENT_TOKENS}+{SEGMENT_TOKENS}],
                   ' ')) AS digest
        FROM tok,
             unnest(range(0, CAST(floor(len(toks) / {SEGMENT_TOKENS}) AS BIGINT)))
             AS t(i)
    ), counts AS (
        SELECT digest, count(DISTINCT doc_id) AS nd
        FROM chunks
        GROUP BY digest
    )
    SELECT c.doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN k.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           {int_ratio_round_sql(
               "sum(CASE WHEN k.nd > 1 THEN 1 ELSE 0 END)",
               "count(*)", 4, "//")}
               AS dup_ratio
    FROM chunks c
    JOIN counts k USING (digest)
    GROUP BY c.doc_id
    """,
)
def dedup_segments_cross_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-segment scoring (RefinedWeb line-dedup shape).

    Documents are cut into non-overlapping ``SEGMENT_TOKENS``-token chunks;
    a chunk is *duplicated* when its digest occurs in more than one
    document. Output is the per-document duplication profile the filter
    stage thresholds on. Scale shape — single text scan, three bounded
    shuffles: chunks are md5'd map-side so only (digest, doc_id) pairs
    ever shuffle, a (digest, doc_id) pre-aggregation collapses within-doc
    repeats with map-side combine, a count-only window over digest yields
    the cross-doc frequency (O(1) window state — a ``collect_set`` here
    would OOM on boilerplate segments shared by millions of documents),
    and the per-doc rollup keys on doc_id. A join of chunks against a
    digest-frequency table would re-execute the chunk lineage per side
    (self-join trap) and scan the corpus twice.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    ).withColumn(
        "n_chunks", F.floor(F.size("toks") / SEGMENT_TOKENS).cast("long")
    )
    chunks = (
        base.filter(F.col("n_chunks") >= 1)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int"))
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        "toks",
                        F.col("i") * SEGMENT_TOKENS + 1,
                        SEGMENT_TOKENS,
                    ),
                )
            ).alias("digest"),
        )
    )
    from pyspark.sql.window import Window

    per_pair = chunks.groupBy("digest", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("digest"))
    dup_chunks = F.when(F.col("nd") > 1, F.col("c")).otherwise(F.lit(0))
    return (
        per_pair.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_chunks"),
            F.sum(dup_chunks).cast("long").alias("n_dup_chunks"),
        )
        # Integer counts: round the ratio in exact integer arithmetic
        # (decimal-half ties diverge between engines' round()).
        .withColumn(
            "dup_ratio",
            F.expr(int_ratio_round_sql("n_dup_chunks", "n_chunks", 4, "div")),
        )
    )


def _canonical_edges(e: DataFrame) -> DataFrame:
    """Undirected edge set, canonically oriented (u < v), deduped."""
    return (
        e.filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star / small-star.

    The O(log^2 n)-round algorithm of Kiveris et al., "Connected
    Components in MapReduce and Beyond" (SoCC'14) — the scale escape
    hatch :func:`connected_components`'s min-label propagation documents:
    propagation needs O(component diameter) rounds, which is fine for
    near-dup clusters but degenerates on a giant high-diameter component;
    star contraction's round count is logarithmic in component size
    regardless of diameter.

    Each round is two rewrites of the *edge set* (not per-node labels):

    - **large-star**: every node attaches its strictly-larger neighbors
      to the minimum of its closed neighborhood.
    - **small-star**: edges oriented to their larger endpoint; every node
      attaches its smaller neighbors (and itself) to their minimum.

    Both are one groupBy + one join over the current edges — the same
    shuffle budget per round as one propagation step. At the fixpoint the
    edge set is a union of min-rooted stars; labels read off directly.
    Returns (node, label) like :func:`connected_components`, label = the
    component's minimum node id.
    """
    # Cache the INPUT edge list first: nodes and the canonical edge set
    # are two eager consumers, and without this each re-executed the
    # caller's whole edge lineage (for the LSH callers that is the full
    # shingle/md5 signature front — measured 22.6s + 14.3s of executor
    # time on two redundant evaluations in dedup_minhash_clusters_star
    # at sf0.1; at corpus scale that is two full scans for one).
    # persist(), not localCheckpoint: the checkpoint's .rdd compilation
    # bypasses AQE and its materialization added ~1.7s of fixed wall
    # (in-window A/B 5.37s vs 7.05s); the cache keeps plan semantics.
    orig = query_cache(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    nodes = (
        orig.select(F.col("u").alias("node"))
        .unionByName(orig.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = _canonical_edges(orig).localCheckpoint(eager=True)
    for _ in range(max_iter):
        # Large-star: neighborhoods of every node (both directions).
        nbrs = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        ls = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        e1 = _canonical_edges(ls).localCheckpoint(eager=True)
        # Small-star: orient to the larger endpoint (canonical v >= u, so
        # the larger endpoint's smaller-neighbor list is keyed on v).
        sn = e1.select(F.col("v").alias("u"), F.col("u").alias("v"))
        smins = sn.groupBy("u").agg(F.min("v").alias("m"))
        pairs = (
            sn.join(smins, "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
            .unionByName(
                smins.select(F.col("u").alias("x"), F.col("m").alias("y"))
            )
        )
        e2 = _canonical_edges(
            pairs.select(F.col("x").alias("u"), F.col("y").alias("v"))
        ).localCheckpoint(eager=True)
        # Fixpoint: both rewrites left the edge set unchanged. Cheap on
        # checkpointed inputs (two anti-join probes, limit-1 each,
        # unioned so the whole test is ONE job per round — the loop's
        # wall here is job-submission overhead, not data).
        changed = (
            e2.exceptAll(e).limit(1)
            .unionAll(e.exceptAll(e2).limit(1))
            .count()
        )
        e = e2
        if changed == 0:
            break
    # Star edges are (center=min, member); members read their label from
    # the center, centers and isolated nodes label themselves. The min()
    # collapse guards the (max_iter exhausted before fixpoint) case where
    # a node could still carry two star edges.
    member_labels = e.select(
        F.col("v").alias("node"), F.col("u").alias("label")
    )
    return (
        nodes.join(member_labels, "node", "left")
        .select(
            "node", F.coalesce("label", F.col("node")).alias("label")
        )
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )


@register(
    "dedup_minhash_clusters_star",
    category="dedup",
    oracle=_CLUSTERS_ORACLE,
)
def dedup_minhash_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters via large-star/small-star contraction.

    Same contract and oracle as ``dedup_minhash_clusters`` — LSH candidate
    pairs transitively closed into (cluster_rep, doc_id) — but through
    :func:`connected_components_star`, the O(log^2 n)-round algorithm that
    stays viable when a 100 TB corpus produces a giant high-diameter
    duplicate component (min-label propagation's O(diameter) worst case).
    Both implementations hash-matching the same recursive-CTE closure is
    the cross-check that the star rewrites preserve components exactly.
    """
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    return connected_components_star(pairs, src="doc_a", dst="doc_b").select(
        F.col("label").alias("cluster_rep"),
        F.col("node").alias("doc_id"),
    )


#: Bloom-filter geometry for the decontamination prescreen: 2^16 bits,
#: 4 md5-derived hash functions. At a real deployment m scales with the
#: eval-suite shingle count (m ≈ 10 bits/key keeps FP ~1%); the *shape*
#: — constant per-executor memory, zero corpus shuffle — is what's under
#: test here.
BLOOM_BITS = 1 << 16
BLOOM_HASHES = 4


def _bloom_position_cols(shingle: Column) -> list[Column]:
    """Four 16-bit bit positions from one md5: hex slices 1-4, 5-8, 9-12,
    13-16 of the digest — bit-identical in Spark and DuckDB, so the whole
    filter is oracle-checkable (swap xxhash64 in production, same shape)."""
    h = F.md5(shingle)
    return [
        F.conv(F.substring(h, 1 + 4 * i, 4), 16, 10)
        .cast("long")
        .alias(f"p{i}")
        for i in range(BLOOM_HASHES)
    ]


@register(
    "dedup_bloom_decontaminate",
    category="dedup",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), shingled AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS shingle
        FROM toks
    ), pos AS (
        SELECT doc_id, shingle,
               ('0x' || substr(md5(shingle), 1, 4))::BIGINT  AS p0,
               ('0x' || substr(md5(shingle), 5, 4))::BIGINT  AS p1,
               ('0x' || substr(md5(shingle), 9, 4))::BIGINT  AS p2,
               ('0x' || substr(md5(shingle), 13, 4))::BIGINT AS p3
        FROM shingled
    ), probe_bits AS (
        SELECT DISTINCT p FROM (
            SELECT unnest([p0, p1, p2, p3]) AS p
            FROM pos WHERE doc_id % {DECON_PROBE_MOD} = 0
        )
    )
    SELECT doc_id, count(*) AS n_flagged_ngrams
    FROM pos
    WHERE doc_id % {DECON_PROBE_MOD} <> 0
      AND p0 IN (SELECT p FROM probe_bits)
      AND p1 IN (SELECT p FROM probe_bits)
      AND p2 IN (SELECT p FROM probe_bits)
      AND p3 IN (SELECT p FROM probe_bits)
    GROUP BY doc_id
    """,
)
def dedup_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination prescreen: constant-memory scale path.

    ``dedup_decontaminate`` broadcasts the probe set's distinct shingles —
    fine while the eval suite is small, but the broadcast grows with the
    suite. This variant compresses the probe side to a fixed 8 KiB bitset
    (2^16 bits, 4 md5-derived hashes): the corpus side then needs *no
    shuffle and no join at all* — a pure map over (doc, shingle) testing
    4 bits against a constant-folded array<long> literal, followed by one
    per-doc count. Flagged counts are a superset of the exact
    contamination counts (Bloom false positives); the standard deployment
    runs this prescreen over 100 TB and the exact broadcast probe only
    over the survivors. The oracle reproduces the *filter's own
    semantics* — membership of all four positions in the probe position
    set is exactly the bitset test — so false positives match
    bit-for-bit too.

    Reference parity: the reference has no dedup surface at all (its 329
    LoC delegate to Postgres); this is part of the LLM-pipeline layer the
    repo adds on top (SURVEY.md §2 'beyond the reference').
    """
    from data_preparation_plugin_spark.functions.text import (
        shingles_from_tokens,
    )

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    # Per-document shingle dedup happens *inside the row* (array_distinct
    # before the explode) — equivalent to distinct on (doc_id, shingle)
    # but with zero shuffle: the only exchange left in the whole plan is
    # the final per-doc count.
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
    shingled = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                shingles_from_tokens(F.col("__toks"), SHINGLE_SIZE)
            )
        ).alias("shingle"),
    )
    pos = shingled.select(
        "doc_id", *_bloom_position_cols(F.col("shingle"))
    )
    pcols = [f"p{i}" for i in range(BLOOM_HASHES)]
    # The probe side is the eval suite — bounded and small by nature (same
    # argument as the broadcast in dedup_decontaminate), so collecting its
    # distinct bit positions to build the bitset is a dimension-sized job.
    probe_positions = [
        r.p
        for r in pos.filter(F.col("doc_id") % DECON_PROBE_MOD == 0)
        .select(F.explode(F.array(*pcols)).alias("p"))
        .distinct()
        .collect()
    ]
    words = [0] * (BLOOM_BITS >> 6)
    for p in probe_positions:
        words[p >> 6] |= 1 << (p & 63)
    # Spark long literals are signed 64-bit.
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    corpus = pos.filter(F.col("doc_id") % DECON_PROBE_MOD != 0).withColumn(
        "bits", F.lit(words)
    )
    hit = None
    for c in pcols:
        bit = F.expr(
            f"(shiftright(element_at(bits, CAST(({c} div 64) + 1 AS INT)),"
            f" CAST({c} % 64 AS INT)) & 1) = 1"
        )
        hit = bit if hit is None else hit & bit
    return (
        corpus.filter(hit)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_flagged_ngrams"))
    )


@register(
    "dedup_cluster_canonicalize",
    category="dedup",
    oracle=_CLUSTERS_CTE
    + r""",
    member_quality AS (
        SELECT c.cluster_rep, c.doc_id,
               len(string_split_regex(trim(lower(d.text)), '\s+')) AS n_tokens
        FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
    ),
    ranked AS (
        SELECT cluster_rep, doc_id, n_tokens,
               row_number() OVER (PARTITION BY cluster_rep
                                  ORDER BY n_tokens DESC, doc_id) AS rn,
               count(*)    OVER (PARTITION BY cluster_rep) AS n_members
        FROM member_quality
    )
    SELECT cluster_rep,
           CAST(n_members AS BIGINT) AS n_members,
           doc_id                    AS keeper_doc_id,
           CAST(n_tokens AS BIGINT)  AS keeper_n_tokens
    FROM ranked
    WHERE rn = 1
    """,
)
def dedup_cluster_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-copy selection per near-dup cluster: keep the richest doc.

    Min-id keepers are arbitrary; real curation keeps the *best* member of
    each duplicate group. Here quality = token count (keep the most
    complete copy; deterministic integer, ties broken on doc_id), and the
    argmax is a pure ``max(struct(quality, -doc_id))`` aggregate — one
    map-side-combinable pass over the members, no per-cluster sort or
    window, so the canonicalization costs one bounded shuffle regardless
    of corpus size. The oracle replays the same choice through the
    recursive-closure clusters with a ranked window.
    """
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    clusters = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("label").alias("cluster_rep"), F.col("node").alias("doc_id")
    )
    quality = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    members = clusters.join(quality, "doc_id")
    best = F.max(
        F.struct(
            F.col("n_tokens").alias("n_tokens"),
            (-F.col("doc_id")).alias("neg_id"),
        )
    ).alias("best")
    return (
        members.groupBy("cluster_rep")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"), best)
        .select(
            "cluster_rep",
            "n_members",
            (-F.col("best.neg_id")).cast("long").alias("keeper_doc_id"),
            F.col("best.n_tokens").cast("long").alias("keeper_n_tokens"),
        )
    )


_PAGERANK_ORACLE = (
    "WITH pairs AS ("
    + _minhash_sql(
        """
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        """
    )
    + """),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    degs AS (
        SELECT src, count(*) AS out_degree FROM edges GROUP BY src
    ),
    contrib AS (
        SELECT e.dst AS doc_id, sum(1.0 / d.out_degree) AS c
        FROM edges e JOIN degs d ON e.src = d.src
        GROUP BY e.dst
    )
    SELECT c.doc_id,
           CAST(d.out_degree AS BIGINT) AS out_degree,
           round(0.15 + 0.85 * c.c, 4) AS pagerank
    FROM contrib c JOIN degs d ON c.doc_id = d.src
    """
)


@register("graph_pagerank_step", category="dedup", oracle=_PAGERANK_ORACLE)
def graph_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank power iteration over the near-duplicate graph.

    Duplicate-cluster *centrality*: within a near-dup neighborhood the
    highest-rank node is the best canonical representative by link
    structure (complementing ``dedup_cluster_canonicalize``'s quality
    rule). One iteration from the uniform start (p=1, damping 0.85) is
    the inner loop of distributed PageRank — degree aggregate, contribution
    sum keyed on the destination, both plain shuffles on node ids; a full
    run repeats this shape with the ranks checkpointed each round exactly
    like :func:`connected_components` checkpoints labels. The symmetric
    edge list is ``localCheckpoint``-ed so the LSH candidate pipeline
    executes once, not once per downstream consumer. Contribution sums are
    rounded to 4dp — far above the ulp-level reorder drift of float
    addition, so the driver hash is stable (same argument as the kNN
    scores).
    """
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint(eager=True)
    )
    degs = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("out_degree")
    )
    contrib = (
        edges.join(degs, "src")
        .groupBy(F.col("dst").alias("doc_id"))
        .agg(F.sum(F.lit(1.0) / F.col("out_degree")).alias("c"))
    )
    return contrib.join(
        degs.select(F.col("src").alias("doc_id"), "out_degree"), "doc_id"
    ).select(
        "doc_id",
        "out_degree",
        F.round(0.15 + 0.85 * F.col("c"), 4).alias("pagerank"),
    )


@register(
    "dedup_fuzzy_entity_match",
    scale_note="0.37s x1 denominator (x8 1.6s); blocked candidates bound the DP verify",
    category="dedup",
    oracle="""
    WITH base AS (
        SELECT c_custkey AS entity_id, c_name AS name FROM customer
        UNION ALL
        SELECT c_custkey + 1000000,
               substr(c_name, 1, 2) || substr(c_name, 4)
        FROM customer WHERE c_custkey % 3 = 0
    ), blocked AS (
        SELECT entity_id, name, substr(name, -4) AS block_key FROM base
    )
    SELECT a.entity_id AS entity_a,
           b.entity_id AS entity_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_distance
    FROM blocked a
    JOIN blocked b
      ON a.block_key = b.block_key AND a.entity_id < b.entity_id
    WHERE levenshtein(a.name, b.name) <= 2
    """,
)
def dedup_fuzzy_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution: Levenshtein record linkage.

    The customer-matching shape of every MDM/record-linkage pipeline: a
    corrupted copy of every third customer name (one char dropped —
    deterministic, so the oracle rebuilds it) must re-link to its
    original under ``levenshtein <= 2``. The quadratic distance predicate
    runs only *inside* blocks (last-4-chars key, invariant under the
    corruption) — the same candidate-generation discipline as the LSH
    band join, so cost scales with block sizes, never |entities|². Block
    granularity is THE scale knob: the probe measured last-3 blocks going
    quadratic at ×8 corpus (ratio 9.4 — block sizes grow with the data),
    and one more suffix character buys 10× more blocks; production
    linkage re-tunes the key as the entity count grows.
    Levenshtein is a JVM builtin with an identical DuckDB twin, making
    the whole match set hash-checkable.
    """
    customer = load_table(spark, sf_dir, "customer")
    base = customer.select(
        F.col("c_custkey").alias("entity_id"), F.col("c_name").alias("name")
    ).unionByName(
        customer.filter(F.col("c_custkey") % 3 == 0).select(
            (F.col("c_custkey") + 1_000_000).alias("entity_id"),
            F.concat(
                F.substring("c_name", 1, 2), F.expr("substring(c_name, 4)")
            ).alias("name"),
        )
    )
    blocked = base.withColumn("block_key", F.substring("name", -4, 4))
    a = blocked.alias("a")
    b = blocked.alias("b")
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.entity_id") < F.col("b.entity_id")),
        )
        .filter(dist <= 2)
        .select(
            F.col("a.entity_id").alias("entity_a"),
            F.col("b.entity_id").alias("entity_b"),
            dist.cast("bigint").alias("edit_distance"),
        )
    )


@register(
    "graph_triangle_cooccurrence",
    category="dedup",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT least(a.l_partkey, b.l_partkey)    AS u,
                        greatest(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), triangles AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ), member AS (
        SELECT a AS part FROM triangles
        UNION ALL SELECT b FROM triangles
        UNION ALL SELECT c FROM triangles
    )
    SELECT part, count(*) AS n_triangles
    FROM member
    GROUP BY part
    """,
)
def graph_triangle_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the part co-occurrence graph.

    The graph-mining shape behind community/cohesion analysis of
    co-occurrence data (parts bought together here; tokens, authors, or
    near-dup docs in a corpus pipeline). Edges are distinct ordered
    part pairs sharing an order — the self-join stays keyed on
    ``l_orderkey`` so its cost is sum-of-squares of *order sizes*
    (bounded: an order has ~4-7 items), never a global cross join.

    Triangles are counted on the DEGREE-ORIENTED graph: each undirected
    edge points from its lower-(degree, id) endpoint to the higher one,
    so every node's out-degree is O(sqrt(m)) and the wedge stream —
    rank-ordered paths a->b->c through a middle vertex — is bounded by
    sum over b of indeg(b)*outdeg(b) <= m*sqrt(m), the classic
    node-iterator++ bound (Chiba-Nishizeki; Suri-Vassilvitskii's
    MapReduce formulation). A hub of degree d contributes O(d*sqrt(m))
    wedges instead of O(d^2) under the previous id-orientation — the
    100x skew fix VERDICT r10 #3 / r11 #2 asked for. Since r17 the
    probe itself is an in-row adjacency intersection per oriented edge
    (see the inline comment below) rather than a wedge-row join + a
    closing semi-join: each triangle is still found exactly once (on
    its lowest-ranked edge), every join is an equi-join Catalyst can
    hash, and the member count explodes from one pass. Measured at
    sf0.1, idle host, best-of-3 (SCALE.md "triangle orientation", r12):
    6.97s middle-vertex oriented vs 9.46s apex-oriented vs 7.5-9.4s for
    the old id-oriented plan (BENCH_r8-r10 records); r17 interleaved
    A/B: wedge rows 6.27s vs intersection 3.43s (1.83x).
    """
    # Per-order part sets via ONE exchange: collect_set gathers each
    # order's distinct parts (state bounded by order size, ~4-7 items)
    # and the ordered pairs are generated IN-ROW with a quadratic HOF
    # over that tiny set. The previous shape — distinct() on (order,
    # part) then a keyed self-join — paid three corpus exchanges
    # (distinct + both join sides) for the same sum-of-squares pair
    # stream; this pays one, plus the edge distinct both shapes need.
    parts = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
    )
    pair_expr = F.expr(
        "flatten(transform(ps, x ->"
        " transform(filter(ps, y -> y > x),"
        " y -> struct(x AS u, y AS v))))"
    )
    # Materialize the edge list once (two longs per edge): the degree
    # aggregate and the orientation join both reference it, and without
    # a checkpoint Spark would re-run the pair expansion per reference —
    # the DataFrame analogue of DuckDB's once-materialized CTE (sf0.1
    # best-of-3, idle host, r12: 6.97s checkpointed vs 11.65s
    # re-deriving; SCALE.md "triangle orientation").
    edges = (
        parts.select(F.explode(pair_expr).alias("e"))
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Degree of each node in the undirected graph, then orient every
    # edge low -> high in the (degree, id) total order. The broadcast
    # degree lookup is one long + one count per distinct node — tiny
    # relative to the edge list it annotates.
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        edges.join(
            F.broadcast(deg.selectExpr("node AS u", "deg AS du")), "u"
        ).join(F.broadcast(deg.selectExpr("node AS v", "deg AS dv")), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # The wedge probe is compute-bound (each e1 row fans out against the
    # broadcast hash relation), but the checkpointed edge list is only a
    # few MB, so AQE coalesces it to a handful of partitions and the
    # super-linear wedge stage runs on that handful of cores. Pin the
    # probe side's width to the live parallelism — the exchange moves
    # two longs per edge, nothing next to the wedge stream it widens.
    oriented = (
        with_deg.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    # r17: count triangles by in-row adjacency INTERSECTION instead of
    # materializing the wedge stream as join rows. Each oriented edge
    # (src, dst) gets both endpoints' out-adjacency arrays attached
    # (collect_list over the checkpointed edge list, broadcast — the
    # same bytes the old plan broadcast as e2/closing), and its
    # triangles are ``array_intersect(adj(src), adj(dst))``: a triangle
    # with rank-ordered corners x < y < z has edges x->y, x->z, y->z,
    # so it is found EXACTLY once, on its lowest edge (x, y) — z is an
    # out-neighbor of both x and y, while on (x, z) the third corner y
    # is never an out-neighbor of z. Same asymptotics as the wedge
    # probe (sum over edges of |adj|, the Chiba-Nishizeki bound under
    # this orientation) but every wedge's join-probe + semi-join hash
    # lookup collapses into one hash-set membership inside
    # array_intersect, and no (a, b, c) row is ever materialized.
    # Interleaved same-session A/B at sf0.1 (idle host, 4 reps):
    # 6.27s -> 3.43s (1.83x); x8 replica ratio in OPTIMIZATION_r17.md.
    # For unbounded-catalog graphs swap the adjacency broadcasts to
    # shuffled hash joins on the same keys — orientation still bounds
    # every adjacency array at O(sqrt(m)).
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    tri = (
        oriented.join(
            F.broadcast(
                adj.select(F.col("src").alias("a_"), F.col("nbrs").alias("na"))
            ),
            F.col("src") == F.col("a_"),
        )
        .join(
            # INNER join: an edge whose dst has no out-neighbors closes
            # no triangle (its intersection would be empty) — dropping
            # it here is exactly the zero contribution it would make.
            F.broadcast(
                adj.select(F.col("src").alias("b_"), F.col("nbrs").alias("nb"))
            ),
            F.col("dst") == F.col("b_"),
        )
        .select("src", "dst", F.array_intersect("na", "nb").alias("cs"))
    )
    # Per-edge member contributions in ONE pass (the intersection is
    # computed once per edge): src and dst each sit in size(cs)
    # triangles found on this edge; each common neighbor c sits in one.
    contrib = tri.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("src").alias("part"),
                        F.size("cs").cast("long").alias("w"),
                    ),
                    F.struct(
                        F.col("dst").alias("part"),
                        F.size("cs").cast("long").alias("w"),
                    ),
                ),
                F.transform(
                    "cs",
                    lambda c: F.struct(
                        c.alias("part"), F.lit(1).cast("long").alias("w")
                    ),
                ),
            )
        ).alias("x")
    ).select("x.part", "x.w")
    return (
        contrib.groupBy("part")
        .agg(F.sum("w").alias("n_triangles"))
        # A part appears iff it is in >= 1 triangle — edges with empty
        # intersections contribute w=0 rows for their endpoints, which
        # must not surface (the oracle only counts triangle members).
        .where(F.col("n_triangles") > 0)
    )


#: Gram width for maximal duplicated-span detection. 5 tokens is wide
#: enough that chance collisions are negligible over word-level grams and
#: narrow enough to catch short copied snippets.
SPAN_GRAM_TOKENS = 5

_SPAN_K = SPAN_GRAM_TOKENS


@register(
    "dedup_duplicate_spans",
    category="dedup",
    bench=True,
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents
    ), grams AS (
        SELECT doc_id,
               i - 1 AS pos,
               md5(array_to_string(toks[i : i + {_SPAN_K} - 1], ' ')) AS digest
        FROM tok,
             unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS t(i)
        WHERE len(toks) >= {_SPAN_K}
    ), dupg AS (
        SELECT digest
        FROM (SELECT digest, count(DISTINCT doc_id) AS nd
              FROM grams GROUP BY digest)
        WHERE nd > 1
    ), hits AS (
        SELECT g.doc_id, g.pos, g.pos + {_SPAN_K} - 1 AS endp
        FROM grams g JOIN dupg USING (digest)
    ), marked AS (
        SELECT doc_id, pos, endp,
               CASE WHEN pos > coalesce(
                        max(endp) OVER (PARTITION BY doc_id ORDER BY pos
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING),
                        -2) + 1
                    THEN 1 ELSE 0 END AS new_span
        FROM hits
    ), spans AS (
        SELECT doc_id, pos, endp,
               sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS span_id
        FROM marked
    ), per_span AS (
        SELECT doc_id, span_id, min(pos) AS s, max(endp) AS e
        FROM spans GROUP BY doc_id, span_id
    ), per_doc AS (
        SELECT doc_id,
               count(*)                           AS n_dup_spans,
               CAST(sum(e - s + 1) AS BIGINT)     AS dup_tokens,
               CAST(max(e - s + 1) AS BIGINT)     AS max_span_tokens
        FROM per_span GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(p.n_dup_spans, 0)     AS n_dup_spans,
           coalesce(p.dup_tokens, 0)      AS dup_tokens,
           coalesce(p.max_span_tokens, 0) AS max_span_tokens,
           {int_ratio_round_sql(
               "coalesce(p.dup_tokens, 0)", "len(t.toks)", 4, "//")}
               AS dup_token_ratio
    FROM tok t LEFT JOIN per_doc p USING (doc_id)
    """,
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document duplicated spans (exact-substring dedup shape).

    The Lee et al. "Deduplicating Training Data" operation, re-expressed
    relationally: instead of a suffix array, every overlapping
    ``SPAN_GRAM_TOKENS``-token gram is hashed, grams seen in more than one
    document mark their positions as duplicated, and overlapping/adjacent
    hit intervals are merged per document into *maximal* duplicated spans.
    Unlike ``dedup_segments_cross_doc`` (fixed non-overlapping chunks),
    this catches duplicates at ANY token alignment — the reason the paper
    uses suffix structures rather than chunk fingerprints.

    Scale shape: tokenization is materialized once below the Generate
    (the measured-5x rule, see ``functions/text.py``); only
    ``(digest, doc_id, pos)`` triples ever shuffle, never text. The
    duplicated-gram set is found with a map-side-combinable distinct +
    count on the 16-byte digest and joined back as a shuffled hash
    semi-join keyed on digest (NOT broadcast — boilerplate grams make this
    set corpus-sized at 100 TB). The interval merge is a per-document
    window (running ``max(end)`` then a span-id running sum) whose state
    is O(1) per document and whose partitioning (doc_id) is delivered by
    the preceding join's shuffle. No quadratic stage anywhere: worst case
    is O(total grams) rows through two hash shuffles and one sort within
    documents.
    """
    k = SPAN_GRAM_TOKENS
    # Fan the scan out first: tokenize + k-gram HOF + one md5 per gram
    # is the per-row-heavy front, serialized on one core by the
    # single-row-group fixture layout otherwise (guide §2.5).
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    from pyspark.sql.window import Window

    from data_preparation_plugin_spark.functions.text import (
        shingles_from_tokens,
    )

    tok = docs.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
    n_tok = tok.select(
        "doc_id", F.size("__toks").alias("n_tokens")
    )
    grams = (
        tok.where(F.size("__toks") >= k)
        .select(
            "doc_id",
            F.posexplode(shingles_from_tokens(F.col("__toks"), k)).alias(
                "pos", "gram"
            ),
        )
        .select("doc_id", "pos", F.md5("gram").alias("digest"))
    )
    # Cross-doc frequency via two windows over ONE exchange on digest —
    # a join of grams against a digest-frequency aggregate would
    # re-execute the tokenize/explode/md5 lineage per side (the segments
    # query's lesson, measured ~1.8x here), and collect_set would OOM on
    # boilerplate grams; max-of-dense_rank is a constant-state distinct
    # count.
    w_digest = Window.partitionBy("digest")
    nd = F.max(
        F.dense_rank().over(w_digest.orderBy("doc_id"))
    ).over(w_digest)
    hits = (
        grams.withColumn("nd", nd)
        .where(F.col("nd") > 1)
        .select("doc_id", "pos", (F.col("pos") + (k - 1)).alias("endp"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("endp").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = hits.withColumn(
        "new_span",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(
            0
        ),
    )
    spans = marked.withColumn(
        "span_id",
        F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_span = spans.groupBy("doc_id", "span_id").agg(
        F.min("pos").alias("s"), F.max("endp").alias("e")
    )
    span_len = F.col("e") - F.col("s") + 1
    per_doc = per_span.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(span_len).alias("dup_tokens"),
        F.max(span_len).alias("max_span_tokens"),
    )
    return n_tok.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.coalesce("max_span_tokens", F.lit(0))
        .cast("long")
        .alias("max_span_tokens"),
        # Integer token counts: exact-integer rounding (half ties
        # diverge between engines' round(); registry helper).
        F.expr(
            int_ratio_round_sql(
                "coalesce(dup_tokens, 0)", "n_tokens", 4, "div"
            )
        ).alias("dup_token_ratio"),
    )


#: Minimum containment (percent, integer) for `dedup_ngram_containment`.
CONTAIN_MIN_PCT = 80


@register(
    "dedup_ngram_containment",
    scale_note="output-bound exact baseline (x6.3): containment pairs grow with the replica near-dup families; the pruned scale default dedup_containment_pruned runs x2.5 same-run",
    category="dedup",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), shingled AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS shingle
        FROM toks
    ), kept AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle,
                   count(*) OVER (PARTITION BY shingle) AS df
            FROM shingled
        ) WHERE df <= {MAX_SHINGLE_DF}
    ), sized AS (
        SELECT doc_id, shingle,
               count(*) OVER (PARTITION BY doc_id) AS n_shingles
        FROM kept
    ), overlap AS (
        SELECT a.doc_id AS doc_a, a.n_shingles AS n_a,
               b.doc_id AS doc_b, b.n_shingles AS n_b,
               count(*) AS n_common
        FROM sized a JOIN sized b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           (n_common * 100) // n_a AS contain_ab_pct,
           (n_common * 100) // n_b AS contain_ba_pct
    FROM overlap
    WHERE (n_common * 100) // n_a >= {CONTAIN_MIN_PCT}
       OR (n_common * 100) // n_b >= {CONTAIN_MIN_PCT}
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment: the superset-duplicate detector.

    Jaccard misses the commonest web-dup shape — a page QUOTED inside a
    bigger page (boilerplate wrappers, aggregators, quote farms): the
    union in the denominator dilutes the score. Containment
    C(A|B) = |A∩B| / |A| scores the smaller side on its own terms, so
    A-fully-inside-B scores 100% regardless of B's size. Reports both
    directions per candidate pair (integer percent — floor division,
    engine-exact) where either direction clears ``CONTAIN_MIN_PCT``.

    Scale shape: identical data movement to ``dedup_ngram_jaccard`` —
    stop-shingles (df > ``MAX_SHINGLE_DF``) pruned first so no posting
    list can blow up, pairs expanded INSIDE each sorted posting list
    (no self-join, one shingle exchange), per-doc sizes riding the
    window count. The only difference is the final arithmetic, which is
    why the two queries share every fragment.
    """
    from pyspark.sql.window import Window

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    shingled = exploded_shingles(
        docs, ["doc_id"], "text", SHINGLE_SIZE, distinct=True
    )
    df_counts = shingled.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df")
    )
    kept = shingled.join(
        df_counts.filter(F.col("df") <= MAX_SHINGLE_DF), "shingle"
    ).select("doc_id", "shingle")
    # Width-pinned keyed exchanges (pin_width): same AQE fixture-scale
    # collapse as the jaccard twin — 4-task pair expansion measured.
    sized = pin_width(kept, "doc_id").withColumn(
        "n_shingles", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    postings = pin_width(sized, "shingle").groupBy("shingle").agg(
        F.array_sort(
            F.collect_list(F.struct("doc_id", "n_shingles"))
        ).alias("ids")
    )
    pair_expand = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    x["n_shingles"].alias("na"),
                    y["doc_id"].alias("doc_b"),
                    y["n_shingles"].alias("nb"),
                ),
            ),
        )
    )
    overlap = (
        postings.filter(F.size("ids") > 1)
        .select(F.explode(pair_expand).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.na").alias("na"),
            F.col("p.doc_b").alias("doc_b"),
            F.col("p.nb").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ab = F.expr("(n_common * 100) div na")
    ba = F.expr("(n_common * 100) div nb")
    return (
        overlap.filter(
            (ab >= CONTAIN_MIN_PCT) | (ba >= CONTAIN_MIN_PCT)
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            ab.alias("contain_ab_pct"),
            ba.alias("contain_ba_pct"),
        )
    )


@register(
    "dedup_containment_pruned",
    category="dedup",
    bench=True,
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), shingled AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS shingle
        FROM toks
    ), kept AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle,
                   count(*) OVER (PARTITION BY shingle) AS df
            FROM shingled
        ) WHERE df <= {MAX_SHINGLE_DF}
    ), sized AS (
        SELECT doc_id, shingle,
               count(*) OVER (PARTITION BY doc_id) AS n_shingles
        FROM kept
    ), overlap AS (
        SELECT a.doc_id AS doc_a, a.n_shingles AS n_a,
               b.doc_id AS doc_b, b.n_shingles AS n_b,
               count(*) AS n_common
        FROM sized a JOIN sized b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           (n_common * 100) // n_a AS contain_ab_pct,
           (n_common * 100) // n_b AS contain_ba_pct
    FROM overlap
    WHERE (n_common * 100) // n_a >= {CONTAIN_MIN_PCT}
       OR (n_common * 100) // n_b >= {CONTAIN_MIN_PCT}
    """,
)
def dedup_containment_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup via prefix-filtered candidates + exact verify.

    Same ANSWER as ``dedup_ngram_containment`` (the oracle is the exact
    all-shared-shingle computation), different physical strategy — the
    scale-default path. The exact form expands a pair for EVERY shared
    shingle, so a hostile corpus of near-identical docs controls the
    cost (the measured x11.5 probe). Prefix filtering (Chaudhuri et al.
    2006; Bayardo et al. WWW'07 all-pairs) makes candidate generation
    answer-proportional instead:

    A qualifying pair has ``floor(100*c/n_min) >= t``, i.e. the two docs
    share ``c >= ceil(t*n_min/100)`` shingles. Order every doc's kept
    shingles by a single global canonical order (ascending document
    frequency, rarest first, shingle text as tie-break) and call its
    first ``n - ceil(t*n/100) + 1`` shingles the PREFIX. If none of the
    smaller doc's prefix shingles appeared in the other doc, the whole
    intersection would have to fit in its remaining
    ``ceil(t*n/100) - 1 < c`` positions — pigeonhole contradiction. So
    joining prefixes against the full posting index finds every
    qualifying pair; candidates are then verified EXACTLY with one
    ``array_intersect`` over the two docs' kept-shingle arrays.

    Scale shape: the posting index only materializes prefix entries on
    the probe side — ~(1-t) of the exact variant's pair-generation
    volume, and rarest-first ordering means prefix postings have the
    SMALLEST document frequencies (df ascending), so each candidate
    list stays near-empty on a benign corpus. Verification joins the
    bounded candidate set back to per-doc shingle arrays (two hash
    joins on doc_id) and intersects map-side — work proportional to
    candidates, not to shared-shingle multiplicity. The df <=
    ``MAX_SHINGLE_DF`` stop-shingle cap still bounds the worst case.
    The exact posting-expansion twin stays registered as the bounded
    verification baseline (the ``dedup_embedding_cosine`` pattern).

    r16 (measured hot spot: the verify stage's two joins + string
    ``array_intersect`` at 2.7s of the 5.0s total, over 180,718
    candidates for a 256-pair answer). Three exact upgrades:

    1. PPJoin positional filter (Xiao et al. WWW'08). A matched
       shingle at 1-based canonical position ``pa`` of doc a and
       ``pb`` of doc b bounds the whole intersection: every other
       common shingle is canonically LARGER, hence sits after both
       positions, so ``c <= 1 + min(na - pa, nb - pb)``. Entries whose
       bound cannot reach ``ceil(t * min(na, nb) / 100)`` are dropped
       BEFORE the pair distinct + verify joins.
    2. Smaller-side probing. A qualifying pair's FIRST common shingle
       in canonical order provably sits inside the SMALLER doc's
       prefix (if it sat outside, the remaining ``ceil(t*n/100) - 1``
       positions could not hold the required commons) and satisfies
       the positional bound (every common shingle lies at or after
       it), so probing only ``(na, doc_id) < (nb, other_id)`` entries
       keeps every qualifying pair while dropping the larger-side
       junk — pairs sharing a shingle in the BIG doc's prefix but
       none in the small one's can never qualify.
    3. Integer surrogate ids. The kept vocabulary gets a
       deterministic 64-bit ``xxhash64(shingle)`` surrogate (r17:
       replaces ``monotonically_increasing_id``, whose values were
       only stable while the persisted vocab stayed cache-resident —
       losing a cached partition at scale would re-mint ids that
       differ from the ones already baked into other consumers'
       arrays, silently corrupting intersections; VERDICT r16 #3).
       Injectivity over the kept vocabulary is AUDITED each run (one
       tiny aggregate over the persisted vocab; a collision raises
       instead of returning wrong counts), so the candidate join keys
       and the verify ``array_intersect`` run over BIGINTs instead of
       3-word strings: no UTF8 hashing per element, ~3x narrower
       arrays in the cache and the broadcast.

    Both the probe and the full posting index are posexploded views
    of the checkpointed ``doc_sets``, so the separate ``kept``
    checkpoint — a full second materialization of every (doc,
    shingle) row — is gone; one lineage builds the ordered sets, one
    cache serves all four consumers.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    # persist (not localCheckpoint): an eager localCheckpoint becomes a
    # stats-less ExistingRDD, which the planner sizes at "unknown =
    # enormous" — every downstream join then degrades to sort-merge
    # and the interpreted-HOF shingle pipeline re-runs once per
    # materialization job. A persisted plan exposes the measured
    # InMemoryRelation size instead, so the planner broadcasts the
    # genuinely-small sides here and would still pick shuffle joins on
    # a corpus-scale cache. The explode runs exactly once.
    shingled = query_cache(
        exploded_shingles(docs, ["doc_id"], "text", SHINGLE_SIZE, distinct=True)
    )
    df_counts = shingled.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # sid: deterministic 64-bit surrogate per kept shingle — a pure
    # function of the shingle TEXT, so every consumer subtree computes
    # the same id even if a cached partition is evicted and the vocab
    # lineage recomputes (monotonically_increasing_id only guaranteed
    # that while the cache stayed resident; VERDICT r16 #3). Only
    # EQUALITY and canonical ORDER of sids are ever used, so the
    # answer cannot depend on their values — provided the map is
    # injective on the kept vocabulary, which the audit below checks
    # every run instead of assuming (64-bit birthday risk becomes real
    # around ~2^32 distinct kept shingles).
    vocab = query_cache(
        df_counts.filter(F.col("df") <= MAX_SHINGLE_DF).withColumn(
            "sid", F.xxhash64("shingle")
        )
    )
    kept = shingled.join(vocab, "shingle").select("doc_id", "df", "sid")
    # One canonical global order: (df asc, sid asc). ANY global total
    # order on shingles preserves prefix-filter correctness — rarest-
    # first is the candidate-count heuristic, the sid tie-break merely
    # replaces the string tie-break — and sorting (long, long) structs
    # skips per-element UTF8 comparisons entirely.
    # doc_sets feeds FOUR consumers (prefix probe, posting index, both
    # verify sides); one persisted materialization serves all four.
    doc_sets = query_cache(kept.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("df", "sid"))).alias(
            "ordered"
        )
    ).select(
        "doc_id",
        F.transform("ordered", lambda x: x["sid"]).alias("sids"),
        F.size("ordered").alias("n"),
    ))
    # Materialize the whole front half once, eagerly — and audit the
    # xxhash64 surrogate's injectivity in the SAME action (the vocab
    # aggregate rides the materialization job instead of paying its own
    # job round-trip; interleaved A/B: separate audit job cost ~0.3s of
    # the 2.1s query at sf0.1). A collision would merge two distinct
    # shingles and corrupt intersection counts, so fail loudly — at
    # that point the fix is widening the surrogate (e.g. pairing
    # xxhash64 with a second seed), not silent output.
    _, n_rows, n_sids = (
        doc_sets.agg(F.count(F.lit(1)).alias("nd"))
        .crossJoin(
            vocab.agg(
                F.count(F.lit(1)).alias("nv"),
                F.count_distinct("sid").alias("ns"),
            )
        )
        .first()
    )
    if n_rows != n_sids:
        raise ValueError(
            "dedup_containment_pruned: xxhash64 sid collision on the "
            f"kept vocabulary ({n_rows} shingles, {n_sids} distinct sids)"
        )
    # The upstream caches only exist to build doc_sets; release them
    # now rather than at the next query.
    shingled.unpersist()
    vocab.unpersist()
    # prefix_len = n - ceil(t*n/100) + 1, in engine-exact integer form.
    prefix_len = (
        F.col("n")
        - F.floor((F.lit(CONTAIN_MIN_PCT) * F.col("n") + 99) / 100)
        + 1
    ).cast("int")
    prefix = doc_sets.select(
        F.col("doc_id"),
        F.col("n").alias("na"),
        F.posexplode(F.slice("sids", F.lit(1), prefix_len)).alias(
            "pa0", "sid"
        ),
    )
    index = doc_sets.select(
        F.col("doc_id").alias("other_id"),
        F.col("n").alias("nb"),
        F.posexplode("sids").alias("pb0", "sid"),
    )
    # c <= 1 + min(na - pa, nb - pb); prune entries that cannot reach
    # ceil(t * min(na, nb) / 100) shared shingles (exact integer form).
    pos_bound = F.lit(1) + F.least(
        F.col("na") - (F.col("pa0") + 1), F.col("nb") - (F.col("pb0") + 1)
    )
    c_min = F.floor(
        (F.lit(CONTAIN_MIN_PCT) * F.least("na", "nb") + 99) / 100
    )
    smaller_probe = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb"))
        & (F.col("doc_id") < F.col("other_id"))
    )
    cand = (
        prefix.join(index, "sid")
        .filter(smaller_probe)
        .filter(pos_bound >= c_min)
        .select(
            F.least("doc_id", "other_id").alias("doc_a"),
            F.greatest("doc_id", "other_id").alias("doc_b"),
        )
        # The candidate entries are tiny in BYTES (two longs per row),
        # so left to AQE the dedup's exchange coalesces to ONE
        # partition — and the final aggregate plus the per-row-heavy
        # verify (two joins + array_intersect) then run on one core.
        # An explicit REPARTITION_BY_NUM exchange (which AQE never
        # coalesces) placed BEFORE dropDuplicates keeps the dedup AND
        # the verify at the live parallelism: the hash partitioning on
        # (doc_a, doc_b) already satisfies the aggregation's
        # distribution requirement, so this costs no extra exchange —
        # it just pins the width of the one that must exist anyway.
        .repartition(
            spark.sparkContext.defaultParallelism, "doc_a", "doc_b"
        )
        .dropDuplicates()
    )
    sets_a = doc_sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sids").alias("sa"),
        F.col("n").alias("na"),
    )
    sets_b = doc_sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sids").alias("sb"),
        F.col("n").alias("nb"),
    )
    verified = (
        cand.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .withColumn(
            "n_common", F.size(F.array_intersect("sa", "sb")).cast("long")
        )
    )
    ab = F.expr("(n_common * 100) div na")
    ba = F.expr("(n_common * 100) div nb")
    return verified.filter(
        (ab >= CONTAIN_MIN_PCT) | (ba >= CONTAIN_MIN_PCT)
    ).select(
        "doc_a",
        "doc_b",
        "n_common",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        ab.alias("contain_ab_pct"),
        ba.alias("contain_ba_pct"),
    )


_LABELPROP_ORACLE = (
    "WITH pairs AS ("
    + _minhash_sql(
        """
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        """
    )
    + """),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    r1 AS (
        -- round 1 from the uniform start (label = own id): every
        -- neighbor casts one vote, so the modal pick degenerates to the
        -- minimum neighbor id (ties -> smallest label).
        SELECT src AS doc_id, min(dst) AS l1 FROM edges GROUP BY src
    ),
    cnt AS (
        -- round 2: neighbors now share round-1 labels, so votes are a
        -- real multiplicity.
        SELECT e.src AS doc_id, l.l1 AS nbr_label, count(*) AS votes
        FROM edges e JOIN r1 l ON e.dst = l.doc_id
        GROUP BY e.src, l.l1
    ),
    ranked AS (
        SELECT doc_id, nbr_label, votes,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY votes DESC, nbr_label) AS rn
        FROM cnt
    )
    SELECT doc_id,
           nbr_label AS new_label,
           CAST(votes AS BIGINT) AS votes
    FROM ranked WHERE rn = 1
    """
)


@register("graph_label_propagation_step", category="dedup", oracle=_LABELPROP_ORACLE)
def graph_label_propagation_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous label-propagation rounds over the near-dup graph.

    Community detection's inner loop (Raghavan et al.'s LPA): every node
    adopts the most common label among its neighbors, ties broken toward
    the smallest label. From the uniform start (label = own id) the FIRST
    round is degenerate — the LSH pair generator emits distinct edges, so
    every neighbor casts exactly one vote and the modal pick collapses to
    min(neighbor id). The registered query therefore runs TWO rounds:
    after round 1 neighbors share labels, so round 2's vote counts are a
    real multiplicity and the modal-adoption machinery (the part a full
    LPA iterates to fixpoint) is exercised and oracle-pinned with
    non-trivial votes. Complements the star-contraction CC (which finds
    *components*) by splitting dense components into *communities*.

    Scale shape per round: vote counting is one shuffle keyed on (node,
    label) with map-side combine; the modal pick is a bounded window per
    node (fan-in = node degree, which LSH banding already caps). Round
    state is just the label column, checkpointed between rounds exactly
    like :func:`connected_components`.
    """
    from pyspark.sql import Window

    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    # Round 1 (uniform start): modal pick == min neighbor id.
    l1 = edges.groupBy(F.col("src").alias("node")).agg(
        F.min("dst").alias("l1")
    )
    # Round 2: count genuine label multiplicities among neighbors.
    votes = (
        edges.join(l1, edges["dst"] == l1["node"])
        .groupBy(F.col("src").alias("doc_id"), F.col("l1").alias("nbr_label"))
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("votes").desc(), "nbr_label")
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("nbr_label").alias("new_label"),
                F.col("votes").cast("bigint").alias("votes"))
    )


#: Incremental-ingest split: every Nth doc plays the "new snapshot", the
#: rest the already-ingested index.
INCREMENTAL_MOD = 5


@register(
    "dedup_incremental_new_docs",
    category="dedup",
    oracle=f"""
    WITH idx AS (
        SELECT DISTINCT md5(text) AS fp
        FROM documents WHERE doc_id % {INCREMENTAL_MOD} <> 0
    ), new AS (
        SELECT doc_id, md5(text) AS fp, source
        FROM documents WHERE doc_id % {INCREMENTAL_MOD} = 0
    )
    SELECT n.doc_id, n.source, n.fp,
           i.fp IS NULL AS is_novel
    FROM new n LEFT JOIN idx i ON n.fp = i.fp
    """,
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl dedup: new snapshot vs the existing corpus index.

    The steady-state shape of a production ingest (CommonCrawl monthly
    drops): the full corpus was deduplicated long ago; each new snapshot
    only needs its documents checked against the *fingerprint index* of
    everything already kept. Emits every new doc with an ``is_novel``
    verdict (left join, not anti-join, so the pipeline can also count and
    attribute the drops — the curation ledger needs both sides).

    Scale shape: both sides project to (id, 16-byte digest) before the
    join — payload text never shuffles. The index side is DISTINCT
    digests (map-side partial), the join an equi-join on the digest; at
    100 TB the index lives as a bucketed table on fp so each monthly
    snapshot joins with zero index re-shuffle, and the novel rows append
    back into the same bucketing.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    idx = (
        docs.filter(F.col("doc_id") % INCREMENTAL_MOD != 0)
        .select("fp")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    new = docs.filter(F.col("doc_id") % INCREMENTAL_MOD == 0)
    return new.join(idx, "fp", "left").select(
        "doc_id", "source", "fp", F.col("__hit").isNull().alias("is_novel")
    )


_CALIBRATION_SUM = " + ".join(
    f"CAST(sa.h{s} = sb.h{s} AS INT)" for s in range(MINHASH_SEEDS)
)

_CALIBRATION_ORACLE = _minhash_sql(
    f"""
    , pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    ), matches AS (
        SELECT p.doc_a, p.doc_b,
               ({_CALIBRATION_SUM}) AS n_match
        FROM pairs p
        JOIN sigs sa ON p.doc_a = sa.doc_id
        JOIN sigs sb ON p.doc_b = sb.doc_id
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM shingled GROUP BY doc_id
    ), common AS (
        SELECT p.doc_a, p.doc_b, count(*) AS n_common
        FROM pairs p
        JOIN shingled a ON a.doc_id = p.doc_a
        JOIN shingled b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
        GROUP BY p.doc_a, p.doc_b
    )
    SELECT m.doc_a, m.doc_b,
           round(m.n_match / {MINHASH_SEEDS}.0, 4) AS est_jaccard,
           {int_ratio_round_sql(
               "c.n_common", "sa.n + sb.n - c.n_common", 4, "//")}
               AS exact_jaccard,
           {int_ratio_round_sql(
               f"abs(m.n_match * (sa.n + sb.n - c.n_common)"
               f" - {MINHASH_SEEDS} * c.n_common)",
               f"{MINHASH_SEEDS} * (sa.n + sb.n - c.n_common)", 4, "//")}
               AS abs_err
    FROM matches m
    JOIN common c ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
    JOIN sizes sa ON m.doc_a = sa.doc_id
    JOIN sizes sb ON m.doc_b = sb.doc_id
    """
)


@register(
    "dedup_lsh_calibration",
    category="dedup",
    oracle=_CALIBRATION_ORACLE,
    scale_note="answer-bound like its exact siblings: candidate-restricted verify grows with true near-dup pairs on the replica corpus",
)
def dedup_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch QA: MinHash-estimated vs exact Jaccard on LSH candidates.

    The measurement an LSH deployment owes its operators: for every
    candidate pair the bands surfaced, the signature-level similarity
    estimate (matching components / seeds) next to the EXACT shingle-set
    Jaccard and the absolute error — the table that calibrates band/seed
    choices against the corpus instead of against the textbook formula.
    Exact overlap is computed candidate-restricted (pairs x both shingle
    sets), never as an open posting-list expansion, so the verification
    cost scales with the candidate count the bands already bounded.

    Scale shape: the estimate is a pair-to-signature equi-join (8 hex
    pieces per doc); the exact side shuffles only candidate docs'
    shingles; all ratios are integer/integer so the oracle hash needs
    only the shared 4dp rounding.
    """
    # One signature front and one shingle set for the WHOLE query:
    # without the caches the md5/shingle front evaluated twice more via
    # sa/sb and the tokenize+explode three times via sizes + both
    # common sides (measured 19.2s + 16.7s + 11.3s + 8.2s executor time
    # across four near-identical 32-task stages at sf0.1). The pairs
    # builder reads the SAME cached sigs through its optional
    # parameter, so the whole calibration runs the signature front
    # exactly once.
    docs = load_table(spark, sf_dir, "documents")
    sigs = query_cache(_minhash_signatures(docs))
    shingled = query_cache(
        exploded_shingles(
            parallelize_scan(docs), ["doc_id"], "text", SHINGLE_SIZE,
            distinct=True,
        )
    )
    # One materialization job for BOTH caches (a column projection
    # through a persisted frame still computes and caches whole
    # partitions): sequential count()s would serialize two saturating
    # fronts that overlap fine.
    sigs.select("doc_id").unionAll(shingled.select("doc_id")).count()
    pairs = dedup_minhash_lsh_pairs(
        spark, sf_dir, sigs=sigs
    ).localCheckpoint(eager=True)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{s}").alias(f"a{s}") for s in range(MINHASH_SEEDS)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{s}").alias(f"b{s}") for s in range(MINHASH_SEEDS)],
    )
    n_match = sum(
        (F.col(f"a{s}") == F.col(f"b{s}")).cast("int")
        for s in range(MINHASH_SEEDS)
    )
    est = pairs.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", n_match.alias("n_match")
    )
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    common = (
        pairs.join(
            shingled.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            shingled.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # est = k/8 is binary-exact (power-of-two denominator) so its round
    # is engine-safe; exact and abs_err are integer rationals with
    # arbitrary denominators — both engines round them through the
    # shared exact-integer form (|k/8 - c/u| = |k*u - 8c| / (8u)).
    est_j = F.col("n_match") / float(MINHASH_SEEDS)
    u = "na + nb - n_common"
    return (
        est.join(common, ["doc_a", "doc_b"])
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(est_j, 4).alias("est_jaccard"),
            F.expr(
                int_ratio_round_sql("n_common", u, 4, "div")
            ).alias("exact_jaccard"),
            F.expr(
                int_ratio_round_sql(
                    f"abs(n_match * ({u}) - {MINHASH_SEEDS} * n_common)",
                    f"{MINHASH_SEEDS} * ({u})",
                    4,
                    "div",
                )
            ).alias("abs_err"),
        )
    )


def _oracle_of(name: str) -> str:
    from data_preparation_plugin_spark.plans.registry import QUERIES

    return QUERIES[name].oracle


# Composed verbatim from the two registered members (the knn_ivf_recall_audit
# pattern): edits to either decontamination oracle flow into the audit.
_BLOOM_FP_ORACLE = f"""
    WITH bloom_side AS (
        SELECT doc_id, n_flagged_ngrams
        FROM ({_oracle_of("dedup_bloom_decontaminate")})
    ), exact_side AS (
        SELECT doc_id, n_contaminated_ngrams
        FROM ({_oracle_of("dedup_decontaminate")})
    ), joined AS (
        SELECT b.doc_id, b.n_flagged_ngrams,
               coalesce(e.n_contaminated_ngrams, 0) AS n_exact
        FROM bloom_side b LEFT JOIN exact_side e ON b.doc_id = e.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs_flagged,
           CAST(sum(CASE WHEN n_exact > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_contaminated,
           CAST(sum(CASE WHEN n_exact = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fp_docs,
           CAST((sum(CASE WHEN n_exact = 0 THEN 1 ELSE 0 END) * 10000)
                // count(*) AS BIGINT) AS fp_rate_bp,
           CAST(sum(n_flagged_ngrams - n_exact) AS BIGINT)
               AS n_excess_ngrams
    FROM joined
"""


@register(
    "dedup_bloom_fp_audit",
    category="dedup",
    oracle=_BLOOM_FP_ORACLE,
)
def dedup_bloom_fp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured Bloom false-positive rate of the decontamination prescreen.

    The number that justifies (or resizes) the Bloom geometry: of the
    documents the 8 KiB bitset flags, how many does the exact broadcast
    probe confirm, and how many n-grams were phantom hits? Composes the
    two REGISTERED builders (and splices their registered oracle texts),
    so the audit tracks the filter it measures. Exact-flagged docs are a
    subset of bloom-flagged by construction — the filter has no false
    negatives — so one left join from the bloom side covers both
    directions, and the summary is the m/k sizing feedback loop
    (fp_rate_bp >> target -> grow ``BLOOM_BITS``).

    Scale shape: dominated by its two members (pure-map bitset probe and
    broadcast join); the audit itself adds a doc_id equi-join over the
    flagged subset and a single-row aggregate.
    """
    bloom = dedup_bloom_decontaminate(spark, sf_dir)
    exact = dedup_decontaminate(spark, sf_dir).select(
        "doc_id", F.col("n_contaminated_ngrams").alias("n_exact")
    )
    joined = bloom.join(exact, "doc_id", "left").select(
        "n_flagged_ngrams", F.coalesce("n_exact", F.lit(0)).alias("n_exact")
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_docs_flagged"),
        F.sum((F.col("n_exact") > 0).cast("long")).alias(
            "n_docs_contaminated"
        ),
        F.sum((F.col("n_exact") == 0).cast("long")).alias("n_fp_docs"),
        F.expr(
            "(sum(CASE WHEN n_exact = 0 THEN 1 ELSE 0 END) * 10000)"
            " div count(1)"
        ).alias("fp_rate_bp"),
        F.sum(F.col("n_flagged_ngrams") - F.col("n_exact")).alias(
            "n_excess_ngrams"
        ),
    )


#: k-core threshold for the pruning-step query.
KCORE_K = 2

_KCORE_ORACLE = (
    "WITH pairs AS ("
    + _minhash_sql(
        """
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        """
    )
    + f"""),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    deg0 AS (
        SELECT src AS doc_id, count(*) AS degree0 FROM edges GROUP BY src
    ),
    survivors AS (
        SELECT doc_id FROM deg0 WHERE degree0 >= {KCORE_K}
    ),
    deg1 AS (
        SELECT e.src AS doc_id, count(*) AS degree1
        FROM edges e
        JOIN survivors s1 ON e.src = s1.doc_id
        JOIN survivors s2 ON e.dst = s2.doc_id
        GROUP BY e.src
    )
    SELECT d.doc_id,
           CAST(d.degree0 AS BIGINT) AS degree0,
           CAST(CASE WHEN s.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
               AS survived_round1,
           CAST(coalesce(g.degree1, 0) AS BIGINT) AS degree1
    FROM deg0 d
    LEFT JOIN survivors s ON d.doc_id = s.doc_id
    LEFT JOIN deg1 g ON d.doc_id = g.doc_id
    """
)


@register("graph_kcore_prune_step", category="dedup", oracle=_KCORE_ORACLE)
def graph_kcore_prune_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-core pruning round over the near-duplicate graph.

    The degeneracy decomposition's inner loop: drop every node with
    degree < k, then recompute degrees on the induced subgraph (a
    node's degree can only FALL when its neighbors leave — that cascade
    is why the full k-core runs this round to fixpoint, exactly like
    the label-propagation and star-contraction loops checkpoint their
    rounds). On the dedup graph the k-core isolates the densely
    interlinked duplicate clusters from incidental pairwise matches —
    a structural canonical-set signal complementing PageRank centrality
    (``graph_pagerank_step``). Reports per node: starting degree,
    round-1 survival, and the post-prune degree (0 for pruned nodes),
    so the output shows exactly which nodes the NEXT round would drop.

    Scale shape: degree = one count keyed on node; the induced-subgraph
    recount is the edge list semi-joined against survivors on BOTH
    endpoints (two hash joins on node ids) and re-counted — every step
    a plain shuffle on node id, the same key each round, no iteration
    state beyond the survivor set.
    """
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint(eager=True)
    deg0 = edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("degree0")
    )
    survivors = deg0.filter(F.col("degree0") >= KCORE_K).select("doc_id")
    deg1 = (
        edges.join(
            survivors.withColumnRenamed("doc_id", "src"), "src", "left_semi"
        )
        .join(
            survivors.withColumnRenamed("doc_id", "dst"), "dst", "left_semi"
        )
        .groupBy(F.col("src").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("degree1"))
    )
    return (
        deg0.join(
            survivors.withColumn("survived", F.lit(1)), "doc_id", "left"
        )
        .join(deg1, "doc_id", "left")
        .select(
            "doc_id",
            F.col("degree0").cast("long").alias("degree0"),
            F.coalesce("survived", F.lit(0))
            .cast("long")
            .alias("survived_round1"),
            F.coalesce("degree1", F.lit(0)).cast("long").alias("degree1"),
        )
    )


#: Incremental-index split: new batch = doc_id % INCR_MOD == 0.
INCR_MINHASH_MOD = 3

_INCR_PIECE_SUM = " + ".join(
    f"(CASE WHEN sn.h{s} = si.h{s} THEN 1 ELSE 0 END)"
    for s in range(MINHASH_SEEDS)
)


@register(
    "dedup_minhash_incremental",
    category="dedup",
    oracle=_minhash_sql(
        f"""
    , matched AS (
        SELECT DISTINCT nb.doc_id AS new_doc_id, ib.doc_id AS index_doc_id
        FROM bands nb
        JOIN bands ib ON nb.band_idx = ib.band_idx
                     AND nb.band_val = ib.band_val
        WHERE nb.doc_id % {INCR_MINHASH_MOD} = 0
          AND ib.doc_id % {INCR_MINHASH_MOD} <> 0
    )
    SELECT m.new_doc_id, m.index_doc_id,
           CAST(({_INCR_PIECE_SUM}) * 1250 AS BIGINT) AS est_jaccard_bp
    FROM matched m
    JOIN sigs sn ON m.new_doc_id = sn.doc_id
    JOIN sigs si ON m.index_doc_id = si.doc_id
    """
    ),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental FUZZY dedup: a new batch probes the EXISTING LSH index.

    The monthly-crawl steady state for near-dup dedup — the fuzzy twin
    of ``dedup_incremental_new_docs`` (which is exact-digest only): the
    standing index keeps (band_idx, band_val) -> doc postings plus the
    8-piece signatures; a new batch computes ONLY its own signatures,
    probes the band buckets, and scores each candidate by the
    signature-estimated Jaccard (matching pieces x 1250 bp) — the
    corpus is never re-paired against itself. Here the split is carved
    deterministically from the fixture (``doc_id % 3 == 0`` is "new");
    in production the index side is a materialized table and only the
    probe side is computed per batch.

    Scale shape: the bands join is bucketed on the band key (never
    |new| x |index|), the new side is batch-sized, and the signature
    re-join moves 8 fixed-width hash pieces per doc. Unlike the full
    ``dedup_minhash_lsh_pairs`` run, cost is proportional to the NEW
    batch plus its collision set — the property that keeps fuzzy dedup
    affordable as the archive grows toward 100 TB.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    sigs = _minhash_signatures(docs)
    bands = minhash_band_rows(sigs)
    is_new = F.col("doc_id") % INCR_MINHASH_MOD == 0
    new_bands = bands.filter(is_new).select(
        F.col("doc_id").alias("new_doc_id"), "band_idx", "band_val"
    )
    index_bands = bands.filter(~is_new).select(
        F.col("doc_id").alias("index_doc_id"), "band_idx", "band_val"
    )
    matched = (
        new_bands.join(index_bands, ["band_idx", "band_val"])
        .select("new_doc_id", "index_doc_id")
        .distinct()
    )
    sn = sigs.select(
        F.col("doc_id").alias("new_doc_id"),
        *[F.col(f"h{s}").alias(f"n{s}") for s in range(MINHASH_SEEDS)],
    )
    si = sigs.select(
        F.col("doc_id").alias("index_doc_id"),
        *[F.col(f"h{s}").alias(f"i{s}") for s in range(MINHASH_SEEDS)],
    )
    pieces = sum(
        F.when(F.col(f"n{s}") == F.col(f"i{s}"), 1).otherwise(0)
        for s in range(MINHASH_SEEDS)
    )
    return (
        matched.join(sn, "new_doc_id")
        .join(si, "index_doc_id")
        .select(
            "new_doc_id",
            "index_doc_id",
            (pieces * 1250).cast("bigint").alias("est_jaccard_bp"),
        )
    )


#: SimHash hamming-ball pairing: signature width, band count (pigeonhole:
#: hamming <= HAMMING_MAX guarantees >= one identical band when
#: HAMMING_MAX < bands), and the report threshold.
_SIMHAMM_BITS = 48
_SIMHAMM_BANDS = 4
SIMHASH_HAMMING_MAX = 3
#: Hot-band cap: band buckets larger than this are skipped for candidate
#: generation (the stop-shingle analogue for signature space — dense
#: regions of correlated signatures would expand quadratically).
SIMHASH_BAND_CAP = 100

_SIMHAMM_BAND_BITS = _SIMHAMM_BITS // _SIMHAMM_BANDS


@register(
    "dedup_simhash_hamming_pairs",
    category="dedup",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ), hashed AS (
        SELECT doc_id, ('0x' || substr(md5(token), 1, 12))::BIGINT AS h
        FROM tok
    ), bits AS (
        SELECT doc_id,
               {", ".join(
                   f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
                   f" AS bit{b}"
                   for b in range(_SIMHAMM_BITS)
               )}
        FROM hashed
        GROUP BY doc_id
    ), sigs AS (
        SELECT doc_id,
               CAST({" + ".join(
                   f"(CASE WHEN bit{b} > 0 THEN {1 << b} ELSE 0 END)"
                   for b in range(_SIMHAMM_BITS)
               )} AS BIGINT) AS s
        FROM bits
    )
    , bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_idx,"
            f" (s >> {b * _SIMHAMM_BAND_BITS}) & {(1 << _SIMHAMM_BAND_BITS) - 1}"
            f" AS band_val FROM sigs"
            for b in range(_SIMHAMM_BANDS)
        )}
    ), cold AS (
        SELECT band_idx, band_val FROM bands
        GROUP BY band_idx, band_val
        HAVING count(*) BETWEEN 2 AND {SIMHASH_BAND_CAP}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN cold c ON a.band_idx = c.band_idx AND a.band_val = c.band_val
        JOIN bands b ON b.band_idx = c.band_idx AND b.band_val = c.band_val
                    AND a.doc_id < b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST(bit_count(xor(sa.s, sb.s)) AS BIGINT) AS hamming
    FROM cand p
    JOIN sigs sa ON p.doc_a = sa.doc_id
    JOIN sigs sb ON p.doc_b = sb.doc_id
    WHERE bit_count(xor(sa.s, sb.s)) <= {SIMHASH_HAMMING_MAX}
    """,
)
def dedup_simhash_hamming_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SimHash near-dup PAIRS via pigeonhole banding — the retrieval half.

    ``dedup_simhash`` computes signatures; this completes the family
    with the hamming-ball join: a 48-bit SimHash split into 4 bands of
    12 bits — any pair within hamming ``SIMHASH_HAMMING_MAX`` (< band
    count) must agree on at least one whole band (pigeonhole), so
    candidates come from band-bucket equality and only candidates pay
    the exact ``bit_count(xor)`` verify. Band buckets larger than
    ``SIMHASH_BAND_CAP`` are skipped — low-entropy corpora (this
    fixture's ~30-word vocabulary is one) produce DENSE signature
    regions whose buckets would expand quadratically, the signature-
    space analogue of stop-shingles; the oracle reproduces the cap
    exactly (the Bloom-FP-audit discipline: verify the operator's OWN
    semantics, including its documented recall trade). Band width is the selectivity lever: an 8-bit first cut
    collapsed at the x4 probe (256 bucket values -> quadratic random
    collisions); 12-bit bands (4096 values) keep buckets
    collision-probability sized, and a 100 TB corpus widens again to
    64-bit signatures with 16-bit bands — same plan, wider key. 48 bits
    also keeps the md5-slice signature inside BIGINT for both engines.

    Scale shape: signatures are one token-explode aggregate; the band
    join is bucketed (in-bucket sorted-array pair expansion, the LSH
    idiom — never a sigs x sigs self-join); the verify joins move one
    32-bit integer per doc.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    hashed = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("token"), 1, 12), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # Branchless bit majorities (see dedup_simhash): 2*ones > n is the
    # oracle's sum(+-1) > 0, ~2x faster in codegen.
    bit_sums = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(
                f"one{b}"
            )
            for b in range(_SIMHAMM_BITS)
        ]
    )
    sig = None
    for b in range(_SIMHAMM_BITS):
        term = F.when(
            F.col(f"one{b}") * 2 > F.col("n_tok"), F.lit(1 << b)
        ).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    sigs = bit_sums.select(
        "doc_id", sig.cast("long").alias("s")
    ).localCheckpoint(eager=True)  # feeds bands AND both verify sides
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("s"), b * _SIMHAMM_BAND_BITS)
                .bitwiseAND(F.lit((1 << _SIMHAMM_BAND_BITS) - 1))
                .alias("band_val"),
            )
            for b in range(_SIMHAMM_BANDS)
        ]
    )
    bands = sigs.select("doc_id", F.explode(band_structs).alias("band")).select(
        "doc_id",
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_val").alias("band_val"),
    )
    buckets = bands.groupBy("band_idx", "band_val").agg(
        F.array_sort(F.collect_set("doc_id")).alias("ids")
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    candidates = (
        buckets.filter(
            (F.size("ids") > 1) & (F.size("ids") <= SIMHASH_BAND_CAP)
        )
        .select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    hamming = F.bit_count(
        F.col("s_a").bitwiseXOR(F.col("s_b"))
    ).cast("bigint")
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
    )


_COMMON_NEIGHBORS_ORACLE = (
    "WITH pairs AS ("
    + _minhash_sql(
        """
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        """
    )
    + """),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (
        SELECT src, count(*) AS d FROM edges GROUP BY src
    ),
    wedge AS (
        SELECT e1.src AS u, e2.dst AS v, count(*) AS common
        FROM edges e1
        JOIN edges e2 ON e1.dst = e2.src AND e1.src < e2.dst
        GROUP BY e1.src, e2.dst
    )
    SELECT w.u AS node_a,
           w.v AS node_b,
           CAST(w.common AS BIGINT) AS common,
           CAST(du.d AS BIGINT) AS deg_a,
           CAST(dv.d AS BIGINT) AS deg_b,
           w.common * 10000 // (du.d + dv.d - w.common) AS jaccard_bp,
           CAST(coalesce(e.ise, 0) AS BIGINT) AS is_edge
    FROM wedge w
    JOIN deg du ON w.u = du.src
    JOIN deg dv ON w.v = dv.src
    LEFT JOIN (SELECT src, dst, 1 AS ise FROM edges) e
           ON w.u = e.src AND w.v = e.dst
    """
)


@register(
    "graph_common_neighbors",
    category="dedup",
    oracle=_COMMON_NEIGHBORS_ORACLE,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction over the near-duplicate graph.

    The classic structural-similarity score (common neighbors +
    neighborhood Jaccard) applied to the problem LSH leaves open: band
    collisions are probabilistic, so some true near-dup pairs never meet
    in a bucket. Two documents that share LSH neighbors but no edge of
    their own (``is_edge = 0`` rows) are exactly the candidates a second
    verification pass should re-check — the link-prediction recall patch
    on top of ``dedup_minhash_lsh_pairs``; ``is_edge = 1`` rows triangulate
    the existing graph. Scores stay in integer basis points
    (``common / |N(u) ∪ N(v)|``), so the ranking is hash-exact.

    Spark shape: the symmetric edge list is ``localCheckpoint``-ed once
    (the LSH pipeline executes once, not once per self-join side); the
    wedge join is keyed on the shared mid-node, so its cost is the sum of
    per-node degree squares — bounded by LSH bucket sizes, never |docs|² —
    and the wedge stream reduces map-side into (u, v) counts. Degrees
    and the edge marker broadcast back onto the bounded 2-hop set. At
    100 TB the same plan holds with degree-capped hubs (drop nodes whose
    degree exceeds a cap before wedging — the standard guard, same plan).
    """
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint(eager=True)
    )
    e1 = edges.select(F.col("src").alias("u"), F.col("dst").alias("mid"))
    e2 = edges.select(F.col("src").alias("mid2"), F.col("dst").alias("v"))
    wedges = (
        e1.join(e2, (F.col("mid") == F.col("mid2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    marker = edges.select("src", "dst", F.lit(1).alias("ise"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    deg_a = deg.select(F.col("src").alias("u"), F.col("d").alias("deg_a"))
    deg_b = deg.select(F.col("src").alias("v"), F.col("d").alias("deg_b"))
    return (
        wedges.join(F.broadcast(deg_a), "u")
        .join(F.broadcast(deg_b), "v")
        .join(
            F.broadcast(marker),
            (F.col("u") == F.col("src")) & (F.col("v") == F.col("dst")),
            "left",
        )
        .select(
            F.col("u").alias("node_a"),
            F.col("v").alias("node_b"),
            "common",
            "deg_a",
            "deg_b",
            F.expr(
                "(common * 10000) div (deg_a + deg_b - common)"
            ).alias("jaccard_bp"),
            F.coalesce(F.col("ise"), F.lit(0)).cast("bigint").alias("is_edge"),
        )
    )


#: Integer IDF-ish rarity weight numerator: weight = NUM // df.
WJ_WEIGHT_NUM = 1_000_000


@register(
    "dedup_weighted_jaccard_pairs",
    scale_note="output-bound: qualifying pairs grow x446 vs wall x8.4; the df<=100 posting cap bounds the worst case",
    category="dedup",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tokens
        FROM documents
    ), shingled AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS shingle
        FROM toks
    ), kept AS (
        SELECT doc_id, shingle, {WJ_WEIGHT_NUM} // df AS w FROM (
            SELECT doc_id, shingle,
                   count(*) OVER (PARTITION BY shingle) AS df
            FROM shingled
        ) WHERE df <= {MAX_SHINGLE_DF}
    ), wtot AS (
        SELECT doc_id, shingle, w,
               sum(w) OVER (PARTITION BY doc_id) AS doc_w
        FROM kept
    ), overlap AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               max(a.doc_w) AS wa, max(b.doc_w) AS wb,
               sum(a.w) AS common_w, count(*) AS n_common
        FROM wtot a
        JOIN wtot b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS BIGINT) AS n_common,
           {int_ratio_round_sql("common_w", "wa + wb - common_w", 4, "//")}
               AS weighted_jaccard
    FROM overlap
    WHERE 2 * common_w >= wa + wb - common_w
    """,
)
def dedup_weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-weighted Jaccard near-dup pairs (WJ >= 0.5).

    Plain Jaccard treats "the cat sat" and a rare technical trigram as
    equal evidence; IDF-weighted Jaccard
    ``sum_min w / sum_max w = common_w / (wa + wb - common_w)`` (sets,
    so min/max collapse to membership) scores overlap by shingle
    RARITY — boilerplate-heavy pairs fall below threshold while
    substantive duplication survives.  Weights are pure integers
    (``{WJ_WEIGHT_NUM} // df``), the threshold is the cross-multiplied
    predicate ``2*common >= union`` — no float until the one reported
    division.  Same stop-shingle cap and posting-list pair expansion as
    ``dedup_ngram_jaccard`` (dedup.py) — candidates only ever come from
    shared postings, never a doc x doc product.

    Scale shape: identical cost class to the unweighted twin — the
    weight is a window column on the kept-shingle relation; postings
    are bounded by MAX_SHINGLE_DF so every pair expansion is capped.
    """
    from pyspark.sql.window import Window

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    shingled = exploded_shingles(
        docs, ["doc_id"], "text", SHINGLE_SIZE, distinct=True
    )
    df_counts = shingled.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    kept = (
        shingled.join(df_counts.filter(F.col("df") <= MAX_SHINGLE_DF), "shingle")
        .select(
            "doc_id",
            "shingle",
            F.expr(f"{WJ_WEIGHT_NUM} DIV df").alias("w"),
        )
    )
    # Width-pinned keyed exchanges (pin_width): same AQE fixture-scale
    # collapse as the unweighted twin — 5-6-task pair expansion measured.
    wtot = pin_width(kept, "doc_id").withColumn(
        "doc_w", F.sum("w").over(Window.partitionBy("doc_id"))
    )
    postings = pin_width(wtot, "shingle").groupBy("shingle").agg(
        F.max("w").alias("w"),
        F.array_sort(F.collect_list(F.struct("doc_id", "doc_w"))).alias("ids"),
    )
    pair_expand = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    x["doc_w"].alias("wa"),
                    y["doc_id"].alias("doc_b"),
                    y["doc_w"].alias("wb"),
                ),
            ),
        )
    )
    overlap = (
        postings.filter(F.size("ids") > 1)
        .select("w", F.explode(pair_expand).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
        )
        .agg(
            F.max("p.wa").alias("wa"),
            F.max("p.wb").alias("wb"),
            F.sum("w").alias("common_w"),
            F.count(F.lit(1)).alias("n_common"),
        )
    )
    union_w = F.col("wa") + F.col("wb") - F.col("common_w")
    # Integer-exact admission gate AND integer-exact 4-decimal report:
    # the weights are integers, so the rational can land on a decimal
    # half where the engines' round() diverge (registry helper).
    return overlap.filter(2 * F.col("common_w") >= union_w).select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("bigint").alias("n_common"),
        F.expr(
            int_ratio_round_sql("common_w", "wa + wb - common_w", 4, "div")
        ).alias("weighted_jaccard"),
    )


_HITS_ORACLE = (
    "WITH pairs AS ("
    + _minhash_sql(
        """
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        """
    )
    + """),
    outdeg AS (
        SELECT doc_a AS node, count(*) AS h1 FROM pairs GROUP BY doc_a
    ),
    auth AS (
        SELECT p.doc_b AS node, sum(o.h1) AS auth_score
        FROM pairs p JOIN outdeg o ON p.doc_a = o.node
        GROUP BY p.doc_b
    ),
    hub AS (
        SELECT p.doc_a AS node, sum(a.auth_score) AS hub_score
        FROM pairs p JOIN auth a ON p.doc_b = a.node
        GROUP BY p.doc_a
    )
    SELECT coalesce(h.node, a.node) AS node,
           CAST(coalesce(h.hub_score, 0) AS BIGINT) AS hub_score,
           CAST(coalesce(a.auth_score, 0) AS BIGINT) AS auth_score
    FROM hub h FULL OUTER JOIN auth a ON h.node = a.node
    """
)


@register("graph_hits_step", category="dedup", oracle=_HITS_ORACLE)
def graph_hits_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One HITS (hubs & authorities) iteration over the near-dup graph.

    The directional companion to ``graph_pagerank_step``: on the
    LSH-pair graph oriented low-id -> high-id (deterministic), one full
    Kleinberg iteration from the uniform start — ``auth = A^T (A 1)``,
    ``hub = A auth`` — flags documents that AGGREGATE many duplicates
    (hubs: templated boilerplate sources) vs documents duplicated BY
    many aggregators (authorities: the canonical originals).  Scores
    stay UNNORMALIZED BIGINTs (normalization is a scalar; rankings are
    what the dedup triage consumes), so every value is engine-exact.

    Scale shape: the pair list is ``localCheckpoint``-ed once (the LSH
    pipeline executes once, feeding all three consumers); each
    half-step is one bounded equi-join + aggregate keyed on node ids —
    the same cost class as a degree count, never |docs|^2.
    """
    pairs = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    outdeg = pairs.groupBy(F.col("doc_a").alias("node")).agg(
        F.count(F.lit(1)).alias("h1")
    )
    auth = (
        pairs.join(outdeg, pairs.doc_a == outdeg.node)
        .groupBy(F.col("doc_b").alias("anode"))
        .agg(F.sum("h1").alias("auth_score"))
    )
    hub = (
        pairs.join(auth, pairs.doc_b == F.col("anode"))
        .groupBy(F.col("doc_a").alias("hnode"))
        .agg(F.sum("auth_score").alias("hub_score"))
    )
    return hub.join(
        auth, hub.hnode == auth.anode, "full_outer"
    ).select(
        F.coalesce(F.col("hnode"), F.col("anode")).alias("node"),
        F.coalesce(F.col("hub_score"), F.lit(0)).cast("bigint").alias(
            "hub_score"
        ),
        F.coalesce(F.col("auth_score"), F.lit(0)).cast("bigint").alias(
            "auth_score"
        ),
    )


#: BFS depth bound for `graph_bfs_levels` — fixed, so the oracle unrolls.
BFS_MAX_DEPTH = 3


_BFS_ORACLE = (
    "WITH pairs AS ("
    + _minhash_sql(
        """
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        """
    )
    + """),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    l0 AS (SELECT min(doc_a) AS node FROM pairs),
    l1 AS (
        SELECT DISTINCT e.dst AS node
        FROM edges e JOIN l0 ON e.src = l0.node
        WHERE e.dst NOT IN (SELECT node FROM l0)
    ),
    l2 AS (
        SELECT DISTINCT e.dst AS node
        FROM edges e JOIN l1 ON e.src = l1.node
        WHERE e.dst NOT IN (SELECT node FROM l0)
          AND e.dst NOT IN (SELECT node FROM l1)
    ),
    l3 AS (
        SELECT DISTINCT e.dst AS node
        FROM edges e JOIN l2 ON e.src = l2.node
        WHERE e.dst NOT IN (SELECT node FROM l0)
          AND e.dst NOT IN (SELECT node FROM l1)
          AND e.dst NOT IN (SELECT node FROM l2)
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(0 AS BIGINT) AS level FROM l0
    UNION ALL
    SELECT node, 1 FROM l1
    UNION ALL
    SELECT node, 2 FROM l2
    UNION ALL
    SELECT node, 3 FROM l3
    """
)


@register("graph_bfs_levels", category="dedup", oracle=_BFS_ORACLE)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS: hop distance (0..{BFS_MAX_DEPTH}) from a root doc.

    The distance primitive the other graph steps don't expose: how far
    does duplication INFLUENCE propagate from a document?  Rooted at
    the smallest doc id in the LSH pair graph (deterministic), expanded
    breadth-first for ``BFS_MAX_DEPTH`` rounds of frontier-join —
    each round one equi-join of the CURRENT FRONTIER (never the full
    visited set) against the checkpointed symmetric edge list, with an
    anti-join to drop already-visited nodes.  The fixed depth keeps the
    oracle an unrolled CTE chain (the ``knn_kcenter_coreset`` pattern);
    the batch form is Pregel-with-a-leash — depth bounds the rounds the
    way ``transform_hierarchy_flatten`` leashes pointer doubling.

    Scale shape: per round, one frontier x edges equi-join (frontier
    broadcasts while small — left to AQE) plus an anti-join against the
    bounded visited set; edges are ``localCheckpoint``-ed once.
    """
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.unionByName(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .localCheckpoint(eager=True)
    )
    # Root from the CHECKPOINTED edges (min(src) == min(doc_a) in the
    # symmetric list) — deriving it from `pairs` would re-execute the
    # whole LSH pipeline from parquet for one scalar (plan-pinned).
    root = edges.agg(F.min("src").alias("node")).select(
        "node", F.lit(0).alias("level")
    )
    visited = root
    frontier = root.select("node")
    out = [root]
    for depth in range(1, BFS_MAX_DEPTH + 1):
        nxt = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(depth).alias("level"))
            .localCheckpoint(eager=True)
        )
        out.append(nxt)
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    result = out[0]
    for part in out[1:]:
        result = result.unionByName(part)
    return result.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("level").cast("bigint").alias("level"),
    )


#: Edit-distance verify: max absolute Levenshtein distance accepted.
EDIT_VERIFY_MAX = 16
#: Blocking prefix length (characters of raw text).
EDIT_VERIFY_PREFIX = 12


@register(
    "dedup_edit_distance_verify",
    scale_note="output-bound: verified pairs grow x1836 vs wall x11 on the replica fixture; cost tracks blocked candidates, never corpus^2",
    category="dedup",
    bench=True,
    oracle=f"""
    WITH blocked AS (
        SELECT doc_id, text, lang,
               substr(text, 1, {EDIT_VERIFY_PREFIX}) AS pfx,
               length(text) AS len
        FROM documents
    )
    SELECT a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
           CAST(levenshtein(a.text, b.text) * 10000
                // greatest(a.len, b.len) AS BIGINT) AS dist_bp
    FROM blocked a
    JOIN blocked b
      ON a.lang = b.lang AND a.pfx = b.pfx AND a.doc_id < b.doc_id
    WHERE abs(a.len - b.len) <= {EDIT_VERIFY_MAX}
      AND levenshtein(a.text, b.text) <= {EDIT_VERIFY_MAX}
    """,
)
def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-document edit-distance verification of blocked candidates.

    The verify stage every fuzzy-dedup pipeline ends with: candidate
    pairs (here from a cheap (lang, {EDIT_VERIFY_PREFIX}-char-prefix)
    blocking key; in production the MinHash-LSH bucket join) are
    CONFIRMED by exact Levenshtein over the full text, with the
    normalized distance in basis points for downstream thresholds.
    Complements ``dedup_fuzzy_entity_match`` (short entity names):
    long-text distance is where the banded algorithm matters, so the
    builder passes ``threshold={EDIT_VERIFY_MAX}`` to Spark's 3-arg
    ``levenshtein`` — the JVM computes only the ±t diagonal band,
    O(t·n) instead of O(n²) per pair, and returns -1 past the bound.
    Two pre-filters keep the expensive call off most candidates: the
    equi-join on the blocking key (never |docs|²) and the triangle-
    inequality guard ``|len_a - len_b| <= t`` (a length delta already
    costs that many edits), both pushed before the DP.

    Scale shape: one scan projects (doc_id, lang, pfx, len, text); the
    self-join is an equi-join on the block key, so cost is candidate-
    proportional (the LSH-calibration discipline); the band-limited DP
    bounds per-pair CPU. No shuffle carries the text twice — Spark
    hashes the block key only.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "lang",
        F.substring("text", 1, EDIT_VERIFY_PREFIX).alias("pfx"),
        F.length("text").alias("len"),
    )
    # The banded DP executes in the PROBE side's stage (the block-key
    # join builds/broadcasts the other side), so a badly-split scan
    # serializes every Levenshtein call on one core (guide §2.5 input
    # skew) — fan the probe side out to the live parallelism. The
    # broadcast side stays on the raw scan.
    a = parallelize_scan(docs).alias("a")
    b = docs.alias("b")
    dist = F.levenshtein(
        F.col("a.text"), F.col("b.text"), threshold=EDIT_VERIFY_MAX
    )
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.pfx") == F.col("b.pfx"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.abs(F.col("a.len") - F.col("b.len"))
                <= F.lit(EDIT_VERIFY_MAX)
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("d"),
            F.greatest(F.col("a.len"), F.col("b.len")).alias("mx"),
        )
        .filter(F.col("d") >= 0)
        .select(
            "doc_a",
            "doc_b",
            F.col("d").cast("bigint").alias("edit_dist"),
            F.expr("CAST(d * 10000 DIV mx AS BIGINT)").alias("dist_bp"),
        )
    )


def _lsh_recall_oracle() -> str:
    """Compose the registered LSH-pairs and exact-Jaccard oracles into
    the recall/precision audit — reusing the member oracle TEXTS (the
    ``knn_ivf_recall_audit`` discipline) so the audit cannot drift from
    the pipelines it scores."""
    from data_preparation_plugin_spark.plans.registry import QUERIES

    lsh = QUERIES["dedup_minhash_lsh_pairs"].oracle
    gt = QUERIES["dedup_ngram_jaccard"].oracle
    return f"""
    WITH cand AS (SELECT doc_a, doc_b FROM ({lsh})),
         gt AS (SELECT doc_a, doc_b FROM ({gt})),
         hit AS (SELECT doc_a, doc_b FROM cand JOIN gt USING (doc_a, doc_b))
    SELECT CAST((SELECT count(*) FROM gt) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hits,
           CAST((SELECT count(*) FROM hit) * 10000
                // greatest((SELECT count(*) FROM gt), 1) AS BIGINT)
               AS recall_bp,
           CAST((SELECT count(*) FROM hit) * 10000
                // greatest((SELECT count(*) FROM cand), 1) AS BIGINT)
               AS precision_bp
    """


@register(
    "dedup_lsh_recall_audit",
    scale_note="inherits the exact ground-truth member whose true pair count grows quadratically on the replica corpus; at scale the audit runs on a sampled stratum, same plan",
    category="dedup",
    oracle=_lsh_recall_oracle(),
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall AND precision of MinHash-LSH against exact ground truth.

    The eval loop that closes fuzzy dedup: ``dedup_lsh_calibration``
    judges the SKETCH per candidate, but nothing scored the CANDIDATE
    SET itself against the exact-Jaccard ground truth
    (``dedup_ngram_jaccard``'s threshold pairs).  This audit joins the
    two REGISTERED pipelines — builders composed on the Spark side,
    oracle TEXTS composed on the DuckDB side (the
    ``knn_ivf_recall_audit`` discipline), so the audit can never
    drift from the pipelines it scores — and reports banding recall
    (truth pairs the bands surfaced) and precision (candidates that
    are true pairs) in integer basis points.  This is the number that
    tunes (bands x rows): more bands buys recall with more
    candidates; the audit makes the trade measurable per corpus.

    Scale shape: both members keep their own banded/posting-capped
    shapes; the audit adds one equi-join on (doc_a, doc_b) pair keys
    and three 1-row counts.  The exact member is the bounded
    verification baseline — at 100 TB the audit runs on a sampled
    stratum, same plan.
    """
    # ONE full-outer join computes all three counts: the old shape
    # (hit join + a count per member, crossJoined) consumed each
    # member TWICE, so the LSH banding front and the exact posting
    # expansion (1.22M rows) each evaluated twice per run — and
    # caching them behind a materialization barrier just traded the
    # duplicate CPU for serialization wall (both A/B'd; see
    # OPTIMIZATION_r16.md). Both members emit DISTINCT pairs, so on
    # the full outer join n_truth = rows with a gt side, n_candidates
    # = rows with a cand side, n_hits = rows with both — one
    # evaluation each, one exchange pair, one job.
    cand = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("c", F.lit(1))
    )
    gt = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("g", F.lit(1))
    )
    # SHUFFLE_HASH: a full-outer join can't broadcast, and the default
    # sort-merge pays two sorts of pair streams that hash fine.
    both = cand.join(
        gt.hint("SHUFFLE_HASH"), ["doc_a", "doc_b"], "full_outer"
    )
    return (
        both.agg(
            # coalesce: an empty member must count 0 (as count(*) did),
            # not NULL-poison the basis-point divisions downstream.
            F.coalesce(F.sum("g"), F.lit(0)).alias("n_truth"),
            F.coalesce(F.sum("c"), F.lit(0)).alias("n_candidates"),
            F.coalesce(F.sum(F.col("c") * F.col("g")), F.lit(0)).alias(
                "n_hits"
            ),
        )
        .select(
            F.col("n_truth").cast("bigint"),
            F.col("n_candidates").cast("bigint"),
            F.col("n_hits").cast("bigint"),
            F.expr(
                "CAST(n_hits * 10000 DIV greatest(n_truth, 1) AS BIGINT)"
            ).alias("recall_bp"),
            F.expr(
                "CAST(n_hits * 10000 DIV greatest(n_candidates, 1)"
                " AS BIGINT)"
            ).alias("precision_bp"),
        )
    )


@register(
    "dedup_url_keep_best",
    category="dedup",
    oracle=f"""
    WITH urls AS ({URL_SYNTH_SQL}
    ), canon AS (
        SELECT u.doc_id, d.n_chars,
               {URL_CANON_SQL}
        FROM urls u JOIN documents d ON u.doc_id = d.doc_id
    ), ranked AS (
        SELECT canonical_url, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY canonical_url
                   ORDER BY n_chars DESC, doc_id) AS rn
        FROM canon
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT)                       AS n_docs,
           max(CASE WHEN rn = 1 THEN doc_id END)          AS kept_doc_id,
           max(CASE WHEN rn = 1 THEN n_chars END)         AS kept_chars,
           CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END)
                AS BIGINT)                                AS chars_dropped
    FROM ranked
    GROUP BY canonical_url
    """,
)
def dedup_url_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup with best-document election (the FineWeb recipe).

    Web crawls re-fetch the same page across snapshots; the cheapest
    high-yield dedup pass groups by *canonical* URL (scheme, ``www.``,
    tracking query and trailing slash stripped — the exact chain of
    ``text_url_canonicalize``, imported so the stages cannot drift) and
    keeps one representative per page: the longest capture, ties broken
    on doc_id so the election is total and cluster-size-independent.
    The report carries the dropped character mass per page — the saving
    a crawl-dedup dashboard shows.

    Scale shape: URL synthesis and canonicalization are projections; the
    only shuffle keys on canonical_url (bounded skew — a page has at most
    a few hundred captures; a pathological hot URL is exactly what the
    ``row_number`` window tolerates since only (doc_id, n_chars) rows
    move, never text). The window and the final group-by share the same
    exchange, so Spark plans ONE shuffle total.
    """
    from data_preparation_plugin_spark.plans.text import (
        canonical_url_col,
        synth_url_col,
    )
    from pyspark.sql.window import Window

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    canon = docs.select(
        "doc_id",
        "n_chars",
        canonical_url_col(synth_url_col()).alias("canonical_url"),
    )
    rn = F.row_number().over(
        Window.partitionBy("canonical_url").orderBy(
            F.desc("n_chars"), F.asc("doc_id")
        )
    )
    ranked = canon.withColumn("rn", rn)
    return ranked.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("kept_doc_id"),
        F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias("kept_chars"),
        F.sum(
            F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0)
        ).alias("chars_dropped"),
    )


#: Build-side predicate for the bloom-prefiltered join demo: urgent orders.
BLOOM_JOIN_PRIORITY = "1-URGENT"


@register(
    "join_bloom_prefilter",
    category="join",
    oracle=f"""
    WITH build AS (
        SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '{BLOOM_JOIN_PRIORITY}'
    ), build_bits AS (
        SELECT DISTINCT p FROM (
            SELECT unnest([
                ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))::BIGINT,
                ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 5, 4))::BIGINT,
                ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 9, 4))::BIGINT,
                ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 13, 4))::BIGINT
            ]) AS p FROM build
        )
    ), cand AS (
        SELECT l_orderkey, l_linestatus,
               l_extendedprice * (1 - l_discount) AS revenue
        FROM lineitem
        WHERE ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 4))::BIGINT
                  IN (SELECT p FROM build_bits)
          AND ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 5, 4))::BIGINT
                  IN (SELECT p FROM build_bits)
          AND ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 9, 4))::BIGINT
                  IN (SELECT p FROM build_bits)
          AND ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 13, 4))::BIGINT
                  IN (SELECT p FROM build_bits)
    ), flagged AS (
        SELECT c.l_linestatus, c.revenue,
               EXISTS (SELECT 1 FROM build b
                       WHERE b.o_orderkey = c.l_orderkey) AS matched
        FROM cand c
    )
    SELECT l_linestatus,
           CAST(count(*) AS BIGINT) AS n_candidate_rows,
           CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched_rows,
           round(sum(CASE WHEN matched THEN revenue ELSE 0 END), 2)
               AS matched_revenue
    FROM flagged
    GROUP BY l_linestatus
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter semi-join reduction, made explicit.

    The fact-fact join killer at 100 TB is shuffling the probe side
    before the join discards most of it. The standard repair — what
    Spark's ``runtime.bloomFilter`` injects when statistics allow — is
    built here explicitly so the plan is pinned, not optimizer-dependent:
    the build side's keys are compressed to a fixed 8 KiB bitset
    (``BLOOM_BITS`` bits, 4 md5-derived positions — the exact machinery
    of ``dedup_bloom_decontaminate``), the probe scan drops non-members
    in the map stage, and the exact join runs only over the bloom
    survivors, removing false positives. The report keeps candidates and
    matches side by side, so the filter's measured selectivity (and its
    FP mass = candidates − matches) is part of the checked answer.

    Scale shape: collecting the bitset is bounded by the bit-POSITION
    space (≤ 2^16 distinct positions no matter how many build keys), so
    the driver step never grows with data; the probe side sheds
    non-matching rows before the only key exchange; the exact join then
    moves candidates only. At production scale m grows to ~10 bits/key
    (constant per-executor memory either way) and the bitset rides a
    broadcast variable instead of a literal — same plan shape.
    """
    orders = load_table(spark, sf_dir, "orders")
    build = orders.filter(
        F.col("o_orderpriority") == BLOOM_JOIN_PRIORITY
    ).select("o_orderkey")
    pcols = [f"p{i}" for i in range(BLOOM_HASHES)]
    positions = [
        r.p
        for r in build.select(
            *_bloom_position_cols(F.col("o_orderkey").cast("string"))
        )
        .select(F.explode(F.array(*pcols)).alias("p"))
        .distinct()
        .collect()
    ]
    words = [0] * (BLOOM_BITS >> 6)
    for p in positions:
        words[p >> 6] |= 1 << (p & 63)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    # Fan the probe scan out: four md5-derived bit positions per probe
    # row is per-row-heavy map work, serialized by the single-row-group
    # fixture layout otherwise (guide §2.5).
    li = parallelize_scan(load_table(spark, sf_dir, "lineitem")).select(
        "l_orderkey",
        "l_linestatus",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
        *_bloom_position_cols(F.col("l_orderkey").cast("string")),
    ).withColumn("bits", F.lit(words))
    hit = None
    for c in pcols:
        bit = F.expr(
            f"(shiftright(element_at(bits, CAST(({c} div 64) + 1 AS INT)),"
            f" CAST({c} % 64 AS INT)) & 1) = 1"
        )
        hit = bit if hit is None else hit & bit
    # Pushdown barrier: the optimizer happily sinks this filter (and
    # the four md5-derived position projections it references) below
    # the parallelize_scan exchange, putting the per-row hashing back
    # into the one-task scan stage it was just fanned out of. The
    # always-true nondeterministic-marked guard pins the membership
    # test ABOVE the exchange without changing a single row: the
    # branch value is the plain `hit`, and the filter still runs
    # map-side BEFORE the join's key exchange (the production claim),
    # just not inside the file scan — where an md5 predicate could
    # never be pushed as a parquet filter anyway.
    hit = F.when(F.spark_partition_id() >= 0, hit)
    cand = li.filter(hit).select("l_orderkey", "l_linestatus", "revenue")
    flagged = cand.join(
        build.withColumn("__hit", F.lit(1)), cand.l_orderkey == build.o_orderkey, "left"
    )
    matched = F.col("__hit").isNotNull()
    return flagged.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n_candidate_rows"),
        F.sum(F.when(matched, 1).otherwise(0)).alias("n_matched_rows"),
        F.round(
            F.sum(F.when(matched, F.col("revenue")).otherwise(0.0)), 2
        ).alias("matched_revenue"),
    )


#: Content-defined chunking: hash window (bytes of text hashed per
#: position) and the boundary modulus (expected chunk length ~CDC_MOD).
CDC_WINDOW = 8
CDC_MOD = 16


@register(
    "dedup_cdc_chunks",
    category="dedup",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, lower(text) AS s, length(lower(text)) AS n
        FROM documents
    ), starts AS (
        SELECT doc_id, s, n,
               list_prepend(1, CASE WHEN n - {CDC_WINDOW} + 1 >= 2 THEN
                   list_filter(
                       range(2, n - {CDC_WINDOW} + 2),
                       i -> ('0x' || substr(md5(substr(s, i, {CDC_WINDOW})),
                                            1, 4))::BIGINT % {CDC_MOD} = 0)
                   ELSE [] END) AS st
        FROM base
    ), chunks AS (
        SELECT doc_id, n,
               unnest(list_transform(
                   range(1, len(st) + 1),
                   k -> md5(substr(s, st[k],
                            (CASE WHEN k < len(st) THEN st[k + 1]
                                  ELSE n + 1 END) - st[k])))) AS chunk_digest,
               unnest(list_transform(
                   range(1, len(st) + 1),
                   k -> (CASE WHEN k < len(st) THEN st[k + 1]
                              ELSE n + 1 END) - st[k])) AS chunk_len
        FROM starts
    ), spread AS (
        SELECT chunk_digest, count(DISTINCT doc_id) AS n_docs
        FROM chunks GROUP BY chunk_digest
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN sp.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST(sum(CASE WHEN sp.n_docs >= 2 THEN c.chunk_len ELSE 0 END)
               AS BIGINT) AS dup_chars
    FROM chunks c JOIN spread sp ON c.chunk_digest = sp.chunk_digest
    GROUP BY c.doc_id
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: insertion-robust duplicated-chunk mass.

    The storage-dedup primitive (LBFS, Muthitacharoen et al. 2001) the
    fixed-shingle families can't replicate: chunk boundaries are placed
    where a rolling content hash hits ``0 mod CDC_MOD``, so inserting a
    sentence shifts ONE chunk's digest while every other chunk re-aligns
    — unlike fixed-width blocks, where one insertion re-keys the whole
    tail. Each document is cut at its content-defined boundaries, chunks
    are digest-hashed, and the cross-document spread of each digest
    yields the duplicated-chunk mass per doc (the bytes a chunk-level
    store would dedupe away). md5-per-position stands in for the gear /
    Rabin rolling hash (engine-identical, so the WHOLE construction is
    oracle-checked); ``dedup_cdc_chunks_gear`` is the production
    O(1)-per-byte rolling-hash boundary pass inside the same plan
    (measured 0.56x of this twin at sf0.1).

    Scale shape: boundary detection and chunking are in-row HOFs over
    one text scan — zero shuffle until (doc_id, 16-byte digest, len)
    rows; the spread aggregate is map-side combinable on well-spread
    digest keys and joins back digest-keyed. Text never rides an
    exchange. Cost is per-byte on the map side — the honest price of
    CDC anywhere — and embarrassingly parallel.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id",
        F.lower(F.col("text")).alias("s"),
        F.length(F.lower(F.col("text"))).alias("n"),
    )
    starts = base.withColumn(
        "st",
        F.expr(
            f"""
            concat(array(1), CASE WHEN n - {CDC_WINDOW} + 1 >= 2 THEN
                filter(
                    transform(sequence(2, n - {CDC_WINDOW} + 1),
                              i -> CASE WHEN
                                   conv(substring(md5(substring(s, i,
                                        {CDC_WINDOW})), 1, 4), 16, 10)
                                       % {CDC_MOD} = 0
                                   THEN i END),
                    x -> x IS NOT NULL)
                ELSE array() END)
            """
        ),
    )
    return _cdc_chunk_rollup(starts)


def _cdc_chunk_rollup(starts: DataFrame) -> DataFrame:
    """Chunk digesting + spread rollup shared by both CDC twins.

    ``starts`` carries (doc_id, s, n, st) with ``st`` the sorted chunk
    start positions (1-based, first element 1). Chunks are cut in-row,
    digest-hashed, and only (doc_id, digest, len) rows reach the
    cross-document spread aggregate — text never rides an exchange.
    """
    chunks = starts.select(
        "doc_id",
        F.explode(
            F.expr(
                """
                transform(sequence(1, size(st)),
                          k -> struct(
                              md5(substring(s, element_at(st, k),
                                  (CASE WHEN k < size(st)
                                        THEN element_at(st, k + 1)
                                        ELSE n + 1 END)
                                  - element_at(st, k))) AS chunk_digest,
                              (CASE WHEN k < size(st)
                                    THEN element_at(st, k + 1)
                                    ELSE n + 1 END)
                              - element_at(st, k) AS chunk_len))
                """
            )
        ).alias("c"),
    ).select("doc_id", "c.chunk_digest", "c.chunk_len")
    # Two consumers (the spread aggregate and the per-doc join-back) would
    # otherwise recompute the boundary fold + digest pass twice;
    # checkpointing the narrow (doc_id, digest, len) rows halved the md5
    # twin 6.8s -> 3.3s and the utf-8 gear form 9.8s -> 4.8s at sf0.1.
    # Scale-safe: ~40 bytes/chunk, a small fraction of the text it
    # summarizes — and the materialized size feeds AQE true stats.
    chunks = chunks.localCheckpoint(eager=True)
    spread = chunks.groupBy("chunk_digest").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    dup = F.col("n_docs") >= 2
    return (
        chunks.join(spread, "chunk_digest")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(dup, 1).otherwise(0)).alias("n_dup_chunks"),
            F.sum(F.when(dup, F.col("chunk_len")).otherwise(0)).alias(
                "dup_chars"
            ),
        )
    )


#: Gear-CDC parameters: the rolling register is kept mod 2^CDC_GEAR_BITS
#: (so the hash state depends on exactly the last CDC_GEAR_BITS bytes —
#: the shift-out window a hardware register gives for free), the per-byte
#: gear value is a Knuth multiplicative hash of the character, and a
#: boundary falls where the register is 0 mod CDC_GEAR_MOD. The modulus
#: is PRIME (not a power of two): h mod 2^k would only see the last k
#: bytes, collapsing the effective window.
CDC_GEAR_BITS = 16
CDC_GEAR_MULT = 2654435761
CDC_GEAR_MOD = 17

_GEAR_REG = 1 << CDC_GEAR_BITS


@register(
    "dedup_cdc_chunks_gear",
    category="dedup",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, lower(text) AS s, length(lower(text)) AS n
        FROM documents
    ), starts AS (
        SELECT doc_id, s, n,
               list_prepend(1, list_transform(
                   list_filter(range(1, n), i ->
                       (list_sum(list_transform(
                            range(greatest(1, i - {CDC_GEAR_BITS - 1}), i + 1),
                            j -> ((ascii(s[j]) * {CDC_GEAR_MULT})
                                      % {_GEAR_REG}) * (1 << (i - j))))
                        % {_GEAR_REG}) % {CDC_GEAR_MOD} = 0),
                   i -> i + 1)) AS st
        FROM base
    ), chunks AS (
        SELECT doc_id, n,
               unnest(list_transform(
                   range(1, len(st) + 1),
                   k -> md5(substr(s, st[k],
                            (CASE WHEN k < len(st) THEN st[k + 1]
                                  ELSE n + 1 END) - st[k])))) AS chunk_digest,
               unnest(list_transform(
                   range(1, len(st) + 1),
                   k -> (CASE WHEN k < len(st) THEN st[k + 1]
                              ELSE n + 1 END) - st[k])) AS chunk_len
        FROM starts
    ), spread AS (
        SELECT chunk_digest, count(DISTINCT doc_id) AS n_docs
        FROM chunks GROUP BY chunk_digest
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN sp.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST(sum(CASE WHEN sp.n_docs >= 2 THEN c.chunk_len ELSE 0 END)
               AS BIGINT) AS dup_chars
    FROM chunks c JOIN spread sp ON c.chunk_digest = sp.chunk_digest
    GROUP BY c.doc_id
    """,
)
def dedup_cdc_chunks_gear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gear-hash CDC: O(1)-per-byte rolling boundaries, oracle-checked.

    The production answer to ``dedup_cdc_chunks``'s md5-per-position
    stand-in (r13 verdict item 4): boundary detection is ONE sequential
    fold over the characters — ``h = (2·h + gear(byte)) mod 2^16``, cut
    where ``h ≡ 0 (mod 17)`` — the gear/rolling construction every real
    CDC store uses (LBFS §3.1; FastCDC's gear loop), here as an in-row
    ``aggregate`` HOF so each byte costs one multiply-add instead of an
    8-byte md5. The construction is still fully oracle-checkable: mod
    2^16, the recurrence telescopes to a 16-byte windowed sum
    (``2^(i-j) ≡ 0`` for lags ≥ 16), which the DuckDB oracle evaluates
    in closed form — identical integer arithmetic, identical boundaries,
    so chunk membership hash-checks exactly. The boundary modulus is
    prime: ``h mod 2^k`` would read only the register's low k bits and
    shrink the effective window to k bytes.

    ``gear(byte)`` is a Knuth multiplicative hash of the character's
    code point; the fixture is ASCII (verified), where Spark's
    first-byte ``ascii`` and DuckDB's code-point ``ascii`` coincide —
    production text goes through ``encode(text, 'utf-8')`` with a
    256-entry byte table instead.

    Measured vs the md5 twin at sf0.1 (local[32], best-of-3, noop sink,
    one interleaved session, r15 after the shared rollup gained its
    two-consumer checkpoint): gear boundaries 2.69s vs md5-per-position
    3.60s — 0.75x, with identical plan shape after the fold
    (digest-only shuffle, map-side-combinable spread aggregate; see
    ``dedup_cdc_chunks``). The remaining cost is the per-char split +
    fold itself; a native byte-table pass would shave the constant
    further, not the shape.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id",
        F.lower(F.col("text")).alias("s"),
        F.length(F.lower(F.col("text"))).alias("n"),
    )
    gear = f"pmod(ascii(c) * {CDC_GEAR_MULT}L, {_GEAR_REG})"
    roll = f"pmod(acc.h * 2 + {gear}, {_GEAR_REG})"
    starts = base.withColumn(
        "st",
        F.expr(
            f"""
            aggregate(
                split(s, ''),
                struct(CAST(0 AS BIGINT) AS h, 0 AS i,
                       array(1) AS st),
                (acc, c) -> struct(
                    {roll} AS h,
                    acc.i + 1 AS i,
                    IF(pmod({roll}, {CDC_GEAR_MOD}) = 0 AND acc.i + 1 < n,
                       concat(acc.st, array(acc.i + 2)),
                       acc.st) AS st),
                acc -> acc.st)
            """
        ),
    )
    return _cdc_chunk_rollup(starts)


#: The gear BYTE table: gear value per byte 0..255, filled by the Knuth
#: multiplicative hash. Production swaps in any fixed random 256-entry
#: table; the lookup shape (element_at on a byte value) is what the
#: utf-8 variant exercises. Property-pinned table[b] == formula(b).
GEAR_BYTE_TABLE = tuple(
    (b * CDC_GEAR_MULT) % _GEAR_REG for b in range(256)
)

_GEAR_TABLE_SQL = "array(" + ", ".join(
    f"{v}L" for v in GEAR_BYTE_TABLE
) + ")"


@register(
    "dedup_cdc_chunks_gear_utf8",
    category="dedup",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, hex(encode(lower(text))) AS hx,
               octet_length(encode(lower(text))) AS nb
        FROM documents
    ), starts AS (
        SELECT doc_id, hx, nb,
               list_prepend(1, list_transform(
                   list_filter(range(1, nb), i ->
                       (list_sum(list_transform(
                            range(greatest(1, i - {CDC_GEAR_BITS - 1}), i + 1),
                            j -> ((('0x' || substr(hx, 2*j - 1, 2))::BIGINT
                                       * {CDC_GEAR_MULT})
                                      % {_GEAR_REG}) * (1 << (i - j))))
                        % {_GEAR_REG}) % {CDC_GEAR_MOD} = 0),
                   i -> i + 1)) AS st
        FROM base
    ), chunks AS (
        SELECT doc_id, nb,
               unnest(list_transform(
                   range(1, len(st) + 1),
                   k -> md5(substr(hx, 2*st[k] - 1,
                            2*((CASE WHEN k < len(st) THEN st[k + 1]
                                     ELSE nb + 1 END) - st[k]))))) AS chunk_digest,
               unnest(list_transform(
                   range(1, len(st) + 1),
                   k -> (CASE WHEN k < len(st) THEN st[k + 1]
                              ELSE nb + 1 END) - st[k])) AS chunk_len
        FROM starts
    ), spread AS (
        SELECT chunk_digest, count(DISTINCT doc_id) AS n_docs
        FROM chunks GROUP BY chunk_digest
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN sp.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST(sum(CASE WHEN sp.n_docs >= 2 THEN c.chunk_len ELSE 0 END)
               AS BIGINT) AS dup_bytes
    FROM chunks c JOIN spread sp ON c.chunk_digest = sp.chunk_digest
    GROUP BY c.doc_id
    """,
)
def dedup_cdc_chunks_gear_utf8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gear CDC over UTF-8 BYTES with the 256-entry table — production form.

    ``dedup_cdc_chunks_gear`` concedes its ``ascii(c)`` code-point gear
    only coincides with byte-level CDC on ASCII fixtures; this is the
    form a content-defined store actually runs: ``encode(text, 'utf-8')``
    once, then the rolling register folds over BYTES with
    ``GEAR_BYTE_TABLE`` — a literal 256-entry lookup
    (``element_at(table, byte + 1)``), the swap-in point for any random
    gear table — so boundaries are byte-offsets and multi-byte
    characters contribute each byte, exactly like LBFS/FastCDC. The byte
    stream rides ONE ``hex()`` projection (two hex chars per byte);
    chunk identity is md5 over the hex slice, engine-identical. The
    DuckDB oracle evaluates the same telescoped 16-byte windowed closed
    form over the same hex bytes (gear by formula — the table's
    generating function; ``tests/test_properties.py`` pins table[b] ==
    formula(b) for all 256 bytes), and
    ``tests/test_queries_parity.py::test_gear_utf8_equals_ascii_form_on_ascii``
    pins (n_chunks, n_dup_chunks, dup mass) equal to the ASCII form on
    the pure-ASCII fixture, where byte == code point.

    Scale shape: identical to the ASCII twin — the fold is in-row
    (zero shuffle for boundary detection), only 16-byte digests and
    lengths leave the scan, and the spread aggregate is map-side
    combinable. Measured at sf0.1 (local[32], best-of-3, noop sink, one
    interleaved session, r15): utf8-byte form 5.56s vs ascii form 2.69s
    — x2.1, the per-byte hex decode (conv + substring) running in
    Spark's interpreted HOF lambdas; vs the md5-per-position stand-in
    (3.60s) it is x1.5 here, although per-byte it does strictly less
    work — the md5 twin rides JVM-native digest code while the gear
    fold pays interpreter overhead per byte. On a native-execution
    engine the gear form wins outright (that is its point); in Spark
    the r16 answer is ``dedup_cdc_chunks_gear_vec`` — the SAME byte
    semantics with the fold vectorized in an Arrow batch kernel
    (measured 1.01s vs this form's 4.57s at sf0.1) — leaving this
    expression form as the pure-Catalyst reference implementation.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id",
        F.expr("hex(encode(lower(text), 'utf-8'))").alias("hx"),
        F.expr("octet_length(encode(lower(text), 'utf-8'))").alias("nb"),
    )
    # Decode + table-lookup ONCE per byte into an int array, then fold
    # over ints: the rolling lambda references the register twice (h and
    # the cut test), and inlining the hex decode there evaluated it twice
    # per byte — measured 17.5s vs 5.5s for this split at sf0.1.
    gs = base.withColumn(
        "gs",
        F.expr(
            f"transform(sequence(1, greatest(nb, 1)), i -> "
            f"element_at({_GEAR_TABLE_SQL}, "
            f"CAST(conv(substring(hx, 2*i - 1, 2), 16, 10) AS INT) + 1))"
        ),
    )
    roll = f"pmod(acc.h * 2 + element_at(gs, i), {_GEAR_REG})"
    starts = gs.withColumn(
        "st",
        F.expr(
            f"""
            IF(nb = 0, array(1),
               aggregate(
                   sequence(1, nb),
                   struct(CAST(0 AS BIGINT) AS h, array(1) AS st),
                   (acc, i) -> struct(
                       {roll} AS h,
                       IF(pmod({roll}, {CDC_GEAR_MOD}) = 0 AND i < nb,
                          concat(acc.st, array(i + 1)),
                          acc.st) AS st),
                   acc -> acc.st))
            """
        ),
    )
    # Drop the gear array before the generator: explode materializes
    # every child column per output row, and carrying an nb-entry long
    # array per chunk row measured +4s at sf0.1.
    chunks = starts.select("doc_id", "hx", "nb", "st").select(
        "doc_id",
        F.explode(
            F.expr(
                """
                transform(sequence(1, size(st)),
                          k -> struct(
                              md5(substring(hx, 2 * element_at(st, k) - 1,
                                  2 * ((CASE WHEN k < size(st)
                                             THEN element_at(st, k + 1)
                                             ELSE nb + 1 END)
                                       - element_at(st, k)))) AS chunk_digest,
                              (CASE WHEN k < size(st)
                                    THEN element_at(st, k + 1)
                                    ELSE nb + 1 END)
                              - element_at(st, k) AS chunk_len))
                """
            )
        ).alias("c"),
    ).select("doc_id", "c.chunk_digest", "c.chunk_len")
    # Same two-consumer checkpoint as _cdc_chunk_rollup: without it the
    # gear-array decode + fold ran twice (9.8s vs 4.8s at sf0.1).
    chunks = chunks.localCheckpoint(eager=True)
    spread = chunks.groupBy("chunk_digest").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    dup = F.col("n_docs") >= 2
    return (
        chunks.join(spread, "chunk_digest")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(dup, 1).otherwise(0)).alias("n_dup_chunks"),
            F.sum(F.when(dup, F.col("chunk_len")).otherwise(0)).alias(
                "dup_bytes"
            ),
        )
    )


@register(
    "dedup_cdc_chunks_gear_vec",
    category="dedup",
    oracle=None,  # set below: identical text to dedup_cdc_chunks_gear_utf8
)
def dedup_cdc_chunks_gear_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gear CDC over UTF-8 bytes, VECTORIZED — the Arrow twin of the fold.

    ``dedup_cdc_chunks_gear_utf8`` pays ×2.1 over the ascii form purely
    in Spark's interpreted HOF lambdas (r15 measured note); this twin
    moves ONLY the boundary/digest kernel to an Arrow batch pass
    (``mapInArrow``) and keeps everything else identical: Spark encodes
    ``lower(text)`` to bytes JVM-side, the Python worker folds each
    buffer with numpy — gear table lookup is one fancy-index, and the
    recurrence ``h = (2h + gear(b)) mod 2^16`` telescopes to a 16-lag
    windowed sum (``2^k ≡ 0 mod 2^16`` for k ≥ 16), i.e. SIXTEEN
    shifted vector adds + one mask per document instead of a per-byte
    interpreted lambda — and only (doc_id, digest, byte-len) rows come
    back. Chunk identity is byte-for-byte the expression form's (md5
    over the uppercase-hex slice), so all three stay hash-identical:
    the DuckDB oracle text is ``dedup_cdc_chunks_gear_utf8``'s
    VERBATIM, and ``tests/test_queries_parity.py::
    test_gear_vec_equals_expression_form`` pins the twin against the
    expression form on both the real fixture and a multibyte one.

    Scale shape: unchanged — the kernel is a narrow map (text still
    never rides an exchange; parallelism = input splits, exactly like
    the expression form), the digest/spread rollup is the shared
    map-side-combinable shape. Arrow transfer is the only new cost:
    one binary column in, three narrow columns out.

    Measured at sf0.1 (local[32], best-of-3, noop sink, r16, one
    session): 1.01s vs the expression utf-8 form's 4.57s (×0.22), the
    ascii gear fold's 1.82s, and the md5 stand-in's 2.81s — the
    production byte-exact form is now also the fastest of the whole
    family, so the recommendation flips: use THIS form everywhere; the
    expression twins remain as the pure-Catalyst reference
    implementations (and the fallback where a cluster forbids Python
    workers).
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id", F.expr("encode(lower(text), 'utf-8')").alias("b")
    )

    def cut_chunks(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        gear = np.asarray(GEAR_BYTE_TABLE, dtype=np.int64)
        for batch in batches:
            ids = batch.column(0).to_pylist()
            bufs = batch.column(1).to_pylist()
            out_id, out_dig, out_len = [], [], []
            for doc_id, buf in zip(ids, bufs):
                n = len(buf)
                if n == 0:
                    out_id.append(doc_id)
                    out_dig.append(hashlib.md5(b"").hexdigest())
                    out_len.append(0)
                    continue
                g = gear[np.frombuffer(buf, dtype=np.uint8)]
                acc = np.zeros(n, dtype=np.int64)
                # k bounded by n: for n < CDC_GEAR_BITS, g[: n - k]'s
                # NEGATIVE stop would yield a non-empty slice against an
                # empty acc[k:] and raise a broadcast ValueError (docs of
                # 2..15 utf-8 bytes; lags >= n contribute nothing anyway).
                for k in range(min(n, CDC_GEAR_BITS)):
                    acc[k:] += g[: n - k] << k
                h = acc & (_GEAR_REG - 1)
                # Boundary after byte i (1-based, i < n): next chunk
                # starts at 0-based offset i — identical cut rule to the
                # expression fold (no cut after the final byte).
                cuts = (
                    np.flatnonzero((h[: n - 1] % CDC_GEAR_MOD) == 0) + 1
                )
                starts = np.concatenate(([0], cuts))
                ends = np.concatenate((cuts, [n]))
                hx = buf.hex().upper().encode("ascii")
                md5 = hashlib.md5
                for s0, e0 in zip(starts, ends):
                    out_id.append(doc_id)
                    out_dig.append(md5(hx[2 * s0 : 2 * e0]).hexdigest())
                    out_len.append(int(e0 - s0))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_id, pa.int64()),
                    pa.array(out_dig, pa.string()),
                    pa.array(out_len, pa.int32()),
                ],
                ["doc_id", "chunk_digest", "chunk_len"],
            )

    chunks = base.mapInArrow(
        cut_chunks, "doc_id bigint, chunk_digest string, chunk_len int"
    )
    # Same two-consumer checkpoint as the expression twins: the spread
    # aggregate and the per-doc join-back would otherwise run the Arrow
    # kernel twice.
    chunks = chunks.localCheckpoint(eager=True)
    spread = chunks.groupBy("chunk_digest").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    dup = F.col("n_docs") >= 2
    return (
        chunks.join(spread, "chunk_digest")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(dup, 1).otherwise(0)).alias("n_dup_chunks"),
            F.sum(F.when(dup, F.col("chunk_len")).otherwise(0)).alias(
                "dup_bytes"
            ),
        )
    )


# The vectorized kernel must answer EXACTLY like the expression fold —
# same oracle text, the no-drift discipline every twin here follows.
QUERIES["dedup_cdc_chunks_gear_vec"].oracle = QUERIES[
    "dedup_cdc_chunks_gear_utf8"
].oracle


#: Exact-substring dedup by prefix doubling: base gram length and the
#: doubling ladder's cap. Levels are SUBSTR_BASE_LEN * 2^k up to the cap.
SUBSTR_BASE_LEN = 16
SUBSTR_MAX_LEN = 256
SUBSTR_LEVELS = tuple(
    SUBSTR_BASE_LEN * (1 << k)
    for k in range((SUBSTR_MAX_LEN // SUBSTR_BASE_LEN).bit_length())
    if SUBSTR_BASE_LEN * (1 << k) <= SUBSTR_MAX_LEN
)


def _substr_doubling_oracle() -> str:
    """Unrolled DuckDB ladder generated from SUBSTR_LEVELS (no drift)."""
    ctes = [
        "base AS (SELECT doc_id, lower(text) AS s, length(lower(text)) AS n"
        " FROM documents)",
        f"""p0 AS (
        SELECT doc_id, s, n,
               unnest(range(1, greatest(n - {SUBSTR_BASE_LEN} + 2, 1)))
                   AS p
        FROM base
    )""",
    ]
    for idx, lvl in enumerate(SUBSTR_LEVELS):
        if idx > 0:
            ctes.append(
                f"""p{idx} AS (
        SELECT sv.doc_id, b.s, b.n, sv.p
        FROM s{idx - 1} sv JOIN base b USING (doc_id)
        WHERE sv.p + {lvl} <= b.n + 1
    )"""
            )
        ctes.append(
            f"""e{idx} AS (
        SELECT doc_id, p,
               ('0x' || substr(md5(substr(s, p, {lvl})), 1, 15))::BIGINT
                   AS dg
        FROM p{idx}
    )"""
        )
        ctes.append(
            f"""d{idx} AS (
        SELECT dg FROM e{idx} GROUP BY dg
        HAVING min(doc_id) < max(doc_id)
    )"""
        )
        ctes.append(
            f"""s{idx} AS (
        SELECT e{idx}.doc_id, e{idx}.p FROM e{idx} JOIN d{idx} USING (dg)
    )"""
        )
    levels_union = "\n        UNION ALL ".join(
        f"SELECT doc_id, {lvl} AS lvl, count(*) AS n_pos"
        f" FROM s{idx} GROUP BY doc_id"
        for idx, lvl in enumerate(SUBSTR_LEVELS)
    )
    ctes.append(f"lv AS (\n        {levels_union}\n    )")
    return f"""
    WITH {", ".join(ctes)}
    SELECT doc_id,
           CAST(sum(CASE WHEN lvl = {SUBSTR_BASE_LEN} THEN n_pos ELSE 0 END)
               AS BIGINT) AS n_dup_grams,
           CAST(max(lvl) AS BIGINT) AS max_dup_len,
           CAST(arg_max(n_pos, lvl) AS BIGINT) AS n_pos_at_max
    FROM lv GROUP BY doc_id
    """


@register(
    "dedup_substr_doubling",
    category="dedup",
    oracle=_substr_doubling_oracle(),
    scale_note=(
        "output-bound: the x8 replica fixture appends ' replicaN' to "
        "otherwise-identical texts, so ~every position is a TRUE "
        "cross-replica duplicate and no ladder level can decay — cost "
        "tracks duplicated mass (x8 here by construction), which is the "
        "quantity the operator exists to measure; MEASURED on the r15 "
        "organic fixture (~14% true-dup mass, doc-hash markers killing "
        "template grams): level-0 survivors are a flat 7.7% of grams at "
        "every factor and wall is x3.37 at x8 vs the worst case's x6.27 "
        "— the decay claim as numbers (SCALE_PROBE_r15, both series)"
    ),
)
def dedup_substr_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest duplicated substring per doc via candidate prefix doubling.

    The suffix-array member of the Lee et al. 2022 exact-substring
    family (r13 verdict item 6), beyond what fixed n-grams
    (``dedup_duplicate_spans`` merges fixed-k hits into intervals — a
    chain of hits can glue overlaps with DIFFERENT partners) and CDC
    chunks (boundary-aligned) can certify: rank doubling. A substring of
    length 2L at position p is cross-document duplicated iff both of
    its L-halves match pairwise — i.e. iff the key
    ``(dg_L(p), dg_L(p+L))`` built from the PREVIOUS level's digests
    collides across docs (the Manber-Myers doubling step, r17; the r16
    ladder re-digested ``md5(substr(s, p, 2L))`` from the raw text at
    every level instead). Duplication at 2L implies duplication of both
    halves at L, so both pair members are always present among the
    level-L survivors, climbing 16 → 256 chars in ``log`` levels with
    only ONE full-text digest pass (level 0). Per doc: the base-level
    duplicated gram count, the largest certified duplicated length (a
    power-of-two lower bound within 2x of the true maximum — what the
    dedup decision needs), and the survivor count at that length.

    Scale shape: NO all-pairs stage at any level — level 0 is one
    digest-keyed window (8-byte keys); every upper level is one
    groupBy(doc_id) exchange of the surviving (pos, digest) rows plus
    an in-row pair lookup and one digest window. Text never leaves its
    row, and after level 0 it is never read again. Level 0 touches
    every position once (the honest suffix-array price); every later
    level touches only survivors, which collapse geometrically —
    exactly the candidate decay that makes the paper's suffix-automaton
    affordable. Survivor frames are checkpointed per level so the plan
    depth stays O(1) per level, and the ladder stops early when a level
    has no survivors.

    Measured: 9.7s at sf0.1 (best-of-1 noop, warm). The ×8 replica
    probe runs ×6.3–7.9 — linear in DUPLICATED MASS, not super-linear
    in input: the replica fixture is ~100% cross-replica duplicated so
    no level decays (see ``scale_note``). The decay claim is now a
    NUMBER (r15, SCALE_PROBE_r15 ``fixture: organic14``): on a fixture
    with ~14% true-dup mass and doc-hash markers killing template grams,
    level-0 survivors are a flat 7.7% of positions at ×2–×8 and the ×8
    wall ratio is ×3.37 on 9.6× the grams — the ladder above level 0
    costs ~the surviving slice, not the corpus.
    """
    from pyspark.sql.window import Window

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id",
        F.lower(F.col("text")).alias("s"),
        F.length(F.lower(F.col("text"))).alias("n"),
    )
    # Level 0 (the honest full pass): md5-digest EVERY position once.
    exploded = base.withColumn(
        "ps",
        F.expr(
            f"CASE WHEN n >= {SUBSTR_BASE_LEN}"
            f" THEN sequence(1, n - {SUBSTR_BASE_LEN} + 1)"
            " ELSE array() END"
        ),
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(ps, p -> struct(p AS p,"
                " CAST(conv(substr("
                f"md5(substr(s, p, {SUBSTR_BASE_LEN})), 1, 15), 16, 10)"
                " AS BIGINT) AS dg))"
            )
        ).alias("x"),
    ).select("doc_id", "x.p", "x.dg")
    per_level = []
    for idx, lvl in enumerate(SUBSTR_LEVELS):
        # Cross-doc duplication as min<max over the digest window — same
        # predicate as count(DISTINCT doc_id) >= 2 without the distinct
        # aggregate's extra pass; digests shuffle as 8-byte longs (60
        # md5 bits at level 0 — collisions ~(positions^2)/2^61; see the
        # r17 note below for the upper levels). r16: the window form
        # replaces the old groupBy(dg) + semi-join-back, which needed
        # the exploded frame TWICE and therefore a full eager checkpoint
        # of every (doc, p, dg) row per level; min/max windows over the
        # one digest exchange consume the explode exactly once with
        # constant state per group (a collect-based rebuild would OOM on
        # boilerplate grams), so the per-level cost drops to the single
        # exchange that is fundamentally required (OPTIMIZATION_r16.md).
        w_dg = Window.partitionBy("dg")
        surv = (
            exploded.withColumn("mn", F.min("doc_id").over(w_dg))
            .withColumn("mx", F.max("doc_id").over(w_dg))
            .where(F.col("mn") < F.col("mx"))
            .select("doc_id", "p", "dg")
            # Checkpointed for BOTH reasons: it feeds two consumers (the
            # level count and the next level's candidate pairs), and it
            # gives AQE the TRUE size — without it the x8 replica run
            # picks a broadcast for the survivor join and dies with
            # "Not enough memory to build and broadcast" (measured).
            .localCheckpoint(eager=True)
        )
        per_level.append(
            surv.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_pos"))
            .withColumn("lvl", F.lit(lvl))
        )
        if idx + 1 == len(SUBSTR_LEVELS) or surv.isEmpty():
            break
        # r17 — rank doubling on the survivors' OWN digests (the
        # Manber-Myers step the r16 ladder only approximated): a
        # substring of length 2L at p is cross-doc duplicated iff its
        # two L-halves match pairwise, i.e. iff the key
        # (dg_L(p), dg_L(p+L)) collides across docs — and both halves
        # of a qualifying position are themselves level-L survivors, so
        # the pair is always present (p+L surviving also implies the
        # p + 2L <= n + 1 length bound, which is why `base`/`n` are
        # never consulted again). This removes, per upper level, the
        # join back to the corpus AND the md5 digesting of 2L-char
        # substrings (32+64+128+256 = 480 hashed chars per surviving
        # position across the ladder); each upper level is one
        # groupBy(doc_id) exchange of survivor rows plus an in-row map
        # lookup. The pair is collapsed to a 64-bit key with xxhash64
        # so the window key stays one long per level instead of a
        # 2^k-long struct; that collapse is Spark-side only (the oracle
        # keeps its literal md5 ladder), so unlike level 0 its
        # ~(survivors^2)/2^64 collision band is not mirrored — at the
        # fixture's ~1e6 survivors that is ~5e-8 per level, and a
        # collision can only ADD a false survivor, never lose one.
        off = lvl
        grouped = surv.groupBy("doc_id").agg(
            F.sort_array(F.collect_list(F.struct("p", "dg"))).alias("pd")
        )
        withm = grouped.select(
            "doc_id",
            "pd",
            F.map_from_arrays(
                F.transform("pd", lambda x: x["p"]),
                F.transform("pd", lambda x: x["dg"]),
            ).alias("m"),
        )
        exploded = (
            withm.select(
                "doc_id",
                F.explode(
                    F.filter(
                        F.transform(
                            "pd",
                            lambda x: F.struct(
                                x["p"].alias("p"),
                                x["dg"].alias("d1"),
                                F.element_at(
                                    F.col("m"), x["p"] + F.lit(off)
                                ).alias("d2"),
                            ),
                        ),
                        lambda y: y["d2"].isNotNull(),
                    )
                ).alias("x"),
            )
            .select(
                "doc_id",
                F.col("x.p").alias("p"),
                F.xxhash64("x.d1", "x.d2").alias("dg"),
            )
        )
    lv = per_level[0]
    for frame in per_level[1:]:
        lv = lv.unionByName(frame)
    return lv.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("lvl") == SUBSTR_BASE_LEN, F.col("n_pos")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_dup_grams"),
        F.max("lvl").cast("bigint").alias("max_dup_len"),
        F.max_by("n_pos", "lvl").cast("bigint").alias("n_pos_at_max"),
    )
