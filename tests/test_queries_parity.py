"""Oracle-parity tests: every declared query vs its DuckDB oracle.

This is a local mirror of the driver's CORRECTNESS gate — same comparison
discipline (column-name sort, row sort, float normalization) so a green run
here predicts a green CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import pytest

from data_preparation_plugin_spark import plans
from tests.conftest import (
    SF_DIR,
    assert_types_parity,
    duckdb_result,
    spark_result,
)

ORACLE_QUERIES = sorted(n for n, q in plans.QUERIES.items() if q.oracle)
ROWS_ONLY_QUERIES = sorted(n for n, q in plans.QUERIES.items() if not q.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_types_safe(oracle, vanilla_session_results, name):
    """A type-aware value hash (the driver's) must not see HUGEINT/DECIMAL
    on the DuckDB side where Spark emits bigint/double (r1 q12 lesson).

    The dtypes come from the one vanilla non-UTC session run that
    ``test_session_independence`` also checks values from — an external
    caller's environment — so this check builds no query of its own."""
    assert_types_parity(
        name,
        vanilla_session_results[name]["dtypes"],
        oracle,
        plans.QUERIES[name].oracle,
    )


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, oracle, name):
    query = plans.QUERIES[name]
    s_cols, s_rows = spark_result(query.builder(spark, SF_DIR))
    d_cols, d_rows = duckdb_result(oracle, query.oracle)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs oracle {len(d_rows)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first 3: {mismatches[:3]}"
    )


def test_every_query_has_an_oracle():
    """Full oracle coverage is an invariant now — a new rows-only query
    needs an explicit construction (tolerance bit, recursive CTE, shared
    twin oracle...) before it lands. See README 'Capability coverage'."""
    assert ROWS_ONLY_QUERIES == [], (
        f"queries without oracles: {ROWS_ONLY_QUERIES}"
    )


def test_arrow_knn_matches_expression_twin(spark):
    """The mapInPandas brute-force kNN returns the same neighbors as the
    oracle-checked expression version (scores equal to 4dp, ids exact)."""
    a = plans.QUERIES["knn_bruteforce_cosine"].builder(spark, SF_DIR).collect()
    b = plans.QUERIES["knn_bruteforce_cosine_arrow"].builder(
        spark, SF_DIR
    ).collect()
    ka = sorted((r.query_id, r.rn, r.neighbor_id, r.cosine) for r in a)
    kb = sorted((r.query_id, r.rn, r.neighbor_id, r.cosine) for r in b)
    assert ka == kb


def test_connected_components_known_graph(spark):
    from data_preparation_plugin_spark.plans.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 4), (7, 7), (8, 9), (9, 10), (10, 8)],
        "src LONG, dst LONG",
    )
    got = {
        r.node: r.label for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 7: 7, 8: 8, 9: 8, 10: 8}


def test_minhash_clusters_cover_all_pairs(spark):
    """Every LSH candidate pair must land inside a single cluster."""
    clusters = plans.QUERIES["dedup_minhash_clusters"].builder(
        spark, SF_DIR
    ).collect()
    label = {r.doc_id: r.cluster_rep for r in clusters}
    pairs = plans.QUERIES["dedup_minhash_lsh_pairs"].builder(
        spark, SF_DIR
    ).collect()
    assert pairs, "fixture should produce at least one candidate pair"
    for p in pairs:
        assert label[p.doc_a] == label[p.doc_b]
    # Representatives are the component minimum.
    for doc, rep in label.items():
        assert rep <= doc


def test_two_cycle_detects_prior_admission(spark, tmp_path):
    """Lifecycle regression the single-cycle shape could not express: a
    document ADMITTED in cycle 1 and re-crawled in cycle 2 must be caught
    by cycle 2's probe (via the cycle-1 delta dirs), while the
    standing-index-only probe — blind to intra-batch history — admits it.
    Synthetic fixture because the real one has no cross-month dups."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_preparation_plugin_spark import plans

    t_arch = "the river flows and the mountain stands of old"
    t_new = "a quick brown fox jumps over the lazy dog today"
    t_uniq = "completely different words entirely here about seven of them"
    rows = [
        (1, t_arch),  # archive (doc_id % 3 != 0)
        (6, t_new),  # month 1 (doc_id % 6 == 0) -> admitted
        (9, t_new),  # month 2 (doc_id % 6 == 3) -> dup of month-1 admission
        (15, t_uniq),  # month 2, genuinely new -> admitted
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": ["web"] * len(rows),
                "n_chars": pa.array(
                    [len(r[1]) for r in rows], pa.int64()
                ),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    sf = str(tmp_path)
    two = {
        (r["cycle"], r["doc_id"]): r["status"]
        for r in plans.QUERIES["curation_two_cycle_ingest"]
        .builder(spark, sf)
        .collect()
    }
    assert two[(1, 6)] == "admitted"
    assert two[(2, 9)] == "exact_dup_archive", two
    assert two[(2, 15)] == "admitted"
    single = {
        r["doc_id"]: r["status"]
        for r in plans.QUERIES["curation_incremental_ingest_indexed"]
        .builder(spark, sf)
        .collect()
    }
    assert single[9] == "admitted"  # the gap the two-cycle shape closes


def test_gear_utf8_equals_ascii_form_on_ascii(spark):
    """On the pure-ASCII fixture byte == code point, so the utf-8 byte
    form must produce the same chunk structure as the ascii() form —
    same n_chunks / n_dup_chunks and the same duplicated mass."""
    a = {
        r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"], r["dup_chars"])
        for r in plans.QUERIES["dedup_cdc_chunks_gear"]
        .builder(spark, SF_DIR)
        .collect()
    }
    b = {
        r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"], r["dup_bytes"])
        for r in plans.QUERIES["dedup_cdc_chunks_gear_utf8"]
        .builder(spark, SF_DIR)
        .collect()
    }
    assert a == b


def test_gear_utf8_multibyte_boundaries_match_reference(spark, tmp_path):
    """Byte-level CDC on NON-ASCII text: Spark's fold must reproduce a
    pure-Python reference of the recurrence h=(2h+gear(byte)) mod 2^16
    over the utf-8 bytes — the case the ascii() form cannot express."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_preparation_plugin_spark import plans
    from data_preparation_plugin_spark.plans.dedup import (
        CDC_GEAR_MOD,
        GEAR_BYTE_TABLE,
        _GEAR_REG,
    )

    texts = [
        "héllo wörld " * 40 + "ünïcode tàil",
        "日本語のテキストと güter Zeichen " * 25,
        "plain ascii filler text " * 30,
    ]

    def ref_chunks(t: str) -> int:
        bs = t.lower().encode("utf-8")
        h, starts = 0, [1]
        for i, byte in enumerate(bs, start=1):
            h = (2 * h + GEAR_BYTE_TABLE[byte]) % _GEAR_REG
            if h % CDC_GEAR_MOD == 0 and i < len(bs):
                starts.append(i + 1)
        return len(starts)

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
                "text": texts,
                "lang": ["xx"] * len(texts),
                "source": ["web"] * len(texts),
                "n_chars": pa.array(
                    [len(t) for t in texts], pa.int64()
                ),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = {
        r["doc_id"]: r["n_chunks"]
        for r in plans.QUERIES["dedup_cdc_chunks_gear_utf8"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    want = {i + 1: ref_chunks(t) for i, t in enumerate(texts)}
    assert got == want


def test_post_compaction_detects_prior_admission(spark, tmp_path):
    """The switch-over regression: after compaction retires the cycle-1
    delta, the cycle-2 probe reads the COMPACTED tables alone — a doc
    admitted in cycle 1 and re-crawled in cycle 2 must still be caught,
    and a genuinely new doc must still be admitted. Same synthetic
    fixture as the two-cycle test (the real fixture has no cross-month
    dups)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_preparation_plugin_spark import plans

    t_arch = "the river flows and the mountain stands of old"
    t_new = "a quick brown fox jumps over the lazy dog today"
    t_uniq = "completely different words entirely here about seven of them"
    rows = [
        (1, t_arch),  # archive (doc_id % 3 != 0)
        (6, t_new),  # cycle 1 (doc_id % 6 == 0) -> admitted
        (9, t_new),  # cycle 2 (doc_id % 6 == 3) -> dup of cycle-1 admission
        (15, t_uniq),  # cycle 2, genuinely new -> admitted
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": ["web"] * len(rows),
                "n_chars": pa.array(
                    [len(r[1]) for r in rows], pa.int64()
                ),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = {
        r["doc_id"]: r["status"]
        for r in plans.QUERIES["curation_post_compaction_ingest"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert got[9] == "exact_dup_archive", got
    assert got[15] == "admitted", got


def test_gear_vec_equals_expression_form(spark, tmp_path):
    """The Arrow-vectorized gear kernel must be row-identical to the
    interpreted expression fold — on the real (ASCII) fixture AND on
    multibyte text where byte-level cuts differ from code-point ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_preparation_plugin_spark import plans

    def rows(name, sf):
        return sorted(
            map(
                tuple,
                plans.QUERIES[name].builder(spark, sf).collect(),
            )
        )

    assert rows("dedup_cdc_chunks_gear_vec", SF_DIR) == rows(
        "dedup_cdc_chunks_gear_utf8", SF_DIR
    )

    texts = [
        "héllo wörld " * 40 + "ünïcode tàil",
        "日本語のテキストと güter Zeichen " * 25,
        "plain ascii filler text " * 30,
        "",  # empty doc: one zero-length chunk in both forms
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
                "text": texts,
                "lang": ["xx"] * len(texts),
                "source": ["web"] * len(texts),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    sf = str(tmp_path)
    assert rows("dedup_cdc_chunks_gear_vec", sf) == rows(
        "dedup_cdc_chunks_gear_utf8", sf
    )


def test_edge_fixture_degenerate_documents(spark, tmp_path):
    """The r16 edge-gate regression set: the six queries whose defects
    the adversarial fixture exposed must stay oracle-green on it —
    empty/short/whitespace-only documents, a sample smaller than the
    embedding dimension, a corpus smaller than the binaryfile stride."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from scripts.edge_fixture import build_edge_fixture
    from tests.conftest import duckdb_result, spark_result

    sf = build_edge_fixture(str(tmp_path / "edge"))
    con = duckdb.connect()
    for t in plans.registry.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
        )
    for name in (
        "text_quality_score",
        "sample_weighted_reservoir",
        "udtf_word_chunks",
        "text_html_boilerplate_strip",
        "embedding_pca_whiten_audit",
        "source_binaryfile_ingest",
        "dedup_cdc_chunks_gear_vec",
        "events_stream_interval_join_left",
        "events_stream_tws_timer_sessions",
        # Adversarial-EMBEDDINGS axis regressions (zero-norm exclusion,
        # probe-duplicate ties, the DECIMAL-vs-double oracle mean, the
        # fixed-point domain gate, the prefix-zero matryoshka gate, a
        # zero vector riding an IVF admission residue):
        "knn_bruteforce_cosine",
        "knn_kmeans_step",
        "embedding_gram_matrix",
        "embedding_matryoshka_audit",
        "knn_ivf_admitted",
    ):
        q = plans.QUERIES[name]
        s_cols, s_rows = spark_result(q.builder(spark, sf))
        d_cols, d_rows = duckdb_result(con, q.oracle)
        assert s_cols == d_cols, (name, s_cols, d_cols)
        assert s_rows == d_rows, (name, len(s_rows), len(d_rows))

    # The zero-norm contract, pinned on the values themselves: the zero
    # vector (vec_id 8 — a PROBE id, and an IVF admission residue) is
    # excluded from cosine scoring entirely, while the 1e-30 vector
    # (9004) survives the DOUBLE-evaluated gate; the probe-set duplicate
    # (9) sees its twin (vec 0) at cosine exactly 1.0, and the corpus
    # tie pair (9001, 9002) resolves by vec_id.
    bf = {
        (r.query_id, r.rn): (r.neighbor_id, r.cosine)
        for r in plans.QUERIES["knn_bruteforce_cosine"]
        .builder(spark, sf)
        .collect()
    }
    ids_seen = {v[0] for v in bf.values()} | {q for q, _ in bf}
    assert 8 not in ids_seen
    assert 9004 in {v[0] for v in bf.values()}
    assert bf[(9, 1)] == (0, 1.0)
    assert bf[(0, 1)] == (9, 1.0)
    assert bf[(0, 2)] == (9001, 1.0)
    assert bf[(0, 3)] == (9002, 1.0)


def test_degenerate_embedding_corpora(spark, tmp_path):
    """The r16 review's reachable degenerate classes, oracle-compared:
    (a) every vector outside the Gram fixed-point domain — the PCA
    audit must emit its vacuous closed form, not divide by n_vecs=0;
    (b) nothing quantizes to a nonzero row — closed form, not NULL
    booleans from an empty aggregate; (c) enough magnitude outliers in
    ONE kmeans seed class to overflow an int64 sum — the DECIMAL(38,0)
    sum must keep going exactly where DuckDB's HUGEINT does."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import duckdb_result, spark_result

    def write_emb(name, rows):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                    "embedding": pa.array(
                        [r[1] for r in rows], pa.list_(pa.float32())
                    ),
                    "label": pa.array(
                        [r[0] % 10 for r in rows], pa.int32()
                    ),
                }
            ),
            str(d / "embeddings.parquet"),
        )
        return str(d)

    dim = 64
    cases = {
        # (a) all out of |x|<=1: gate empties the audit's corpus
        "all_outlier": [(i, [2.0] * dim) for i in range(5)],
        # (b) only zero + subnormal rows: every row quantizes to zero
        "all_subzero": [(0, [0.0] * dim)]
        + [(i, [1e-30] * dim) for i in range(1, 4)],
        # (c) 12 outliers sharing seed class 5 (ids = 5 mod 8):
        # sum(qv) = 12e18 > int64 max for every dimension
        "kmeans_overflow": [(5 + 8 * i, [1e15] * dim) for i in range(12)]
        + [(i, [0.5] * dim) for i in (0, 1, 2)],
    }
    checks = {
        "all_outlier": ["embedding_pca_whiten_audit"],
        "all_subzero": ["embedding_pca_whiten_audit"],
        "kmeans_overflow": ["knn_kmeans_step"],
    }
    for case, rows in cases.items():
        sf = write_emb(case, rows)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS"
            f" SELECT * FROM '{sf}/embeddings.parquet'"
        )
        for name in checks[case]:
            q = plans.QUERIES[name]
            s_cols, s_rows = spark_result(q.builder(spark, sf))
            d_cols, d_rows = duckdb_result(con, q.oracle)
            assert s_cols == d_cols, (case, name, s_cols, d_cols)
            assert s_rows == d_rows, (case, name, s_rows, d_rows)


#: Builders that persist through ``registry.query_cache``. In the first
#: four the cache is only a speed-up; the quarantine builders need theirs,
#: because Spark refuses a scan that reads only the corrupt-record column
#: unless the parse is cached (QUERY_ONLY_CORRUPT_RECORD_COLUMN).
SPEEDUP_CACHE_QUERIES = [
    "dedup_containment_pruned",
    "dedup_lsh_calibration",
    "dedup_minhash_clusters_star",
    "transform_hierarchy_flatten",
]
CACHING_QUERIES = SPEEDUP_CACHE_QUERIES + [
    "source_csv_quarantine",
    "source_json_quarantine",
]


def test_containment_sids_survive_cache_eviction(spark, oracle):
    """A speed-up cache must not change the answer when it is lost.
    Clearing every cached partition AFTER the builder staged its caches
    forces every consumer to recompute from lineage. For containment this
    pins the surrogate ids as a pure function of the shingle text (r17,
    VERDICT r16 #3): a cache-residency-dependent id mint (the old
    monotonically_increasing_id) could re-mint ids per consumer and
    silently corrupt intersections, while xxhash64(shingle) re-derives
    identically. The quarantine builders are left out: their cache is
    required, not a speed-up (see CACHING_QUERIES)."""
    for name in SPEEDUP_CACHE_QUERIES:
        query = plans.QUERIES[name]
        df = query.builder(spark, SF_DIR)
        spark.catalog.clearCache()  # evict the builder's caches mid-query
        s_cols, s_rows = spark_result(df)
        d_cols, d_rows = duckdb_result(oracle, query.oracle)
        assert s_cols == d_cols, name
        assert s_rows == d_rows, name


@pytest.mark.parametrize("name", CACHING_QUERIES)
def test_query_caches_released_when_next_query_starts(spark, oracle, name):
    """A query's caches live until the next query's builder is entered:
    the sink still reads them, then the next builder call releases every
    CacheManager entry this one added."""
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    query = plans.QUERIES[name]
    s_cols, s_rows = spark_result(query.builder(spark, SF_DIR))
    d_cols, d_rows = duckdb_result(oracle, query.oracle)
    assert (s_cols, s_rows) == (d_cols, d_rows)
    assert cache_manager.numCachedEntries() > 0
    plans.QUERIES["q1_pricing_summary"].builder(spark, SF_DIR)
    assert cache_manager.numCachedEntries() == 0
