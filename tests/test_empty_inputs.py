"""Empty-corpus robustness: every registry query must return an empty
(or degenerate-but-valid) result on empty tables, never crash. At
100 TB an empty partition/day/source filter is routine, and a crash
there kills a whole pipeline run."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod

_SCHEMAS = {
    "region": {"r_regionkey": pa.int32(), "r_name": pa.string()},
    "nation": {
        "n_nationkey": pa.int32(),
        "n_name": pa.string(),
        "n_regionkey": pa.int32(),
    },
    "customer": {
        "c_custkey": pa.int64(),
        "c_name": pa.string(),
        "c_nationkey": pa.int32(),
        "c_acctbal": pa.float64(),
        "c_mktsegment": pa.string(),
    },
    "supplier": {
        "s_suppkey": pa.int64(),
        "s_name": pa.string(),
        "s_nationkey": pa.int32(),
        "s_acctbal": pa.float64(),
    },
    "part": {
        "p_partkey": pa.int64(),
        "p_name": pa.string(),
        "p_brand": pa.string(),
        "p_type": pa.string(),
        "p_size": pa.int32(),
        "p_retailprice": pa.float64(),
    },
    "orders": {
        "o_orderkey": pa.int64(),
        "o_custkey": pa.int64(),
        "o_orderstatus": pa.string(),
        "o_totalprice": pa.float64(),
        "o_orderdate": pa.timestamp("us"),
        "o_orderpriority": pa.string(),
    },
    "lineitem": {
        "l_orderkey": pa.int64(),
        "l_partkey": pa.int64(),
        "l_suppkey": pa.int64(),
        "l_linenumber": pa.int32(),
        "l_quantity": pa.float64(),
        "l_extendedprice": pa.float64(),
        "l_discount": pa.float64(),
        "l_tax": pa.float64(),
        "l_returnflag": pa.string(),
        "l_linestatus": pa.string(),
        "l_shipdate": pa.timestamp("us"),
    },
    "events": {
        "event_id": pa.int64(),
        "ts": pa.timestamp("us"),
        "user_id": pa.int64(),
        "event_type": pa.string(),
        "value": pa.float64(),
        "props": pa.string(),
    },
    "documents": {
        "doc_id": pa.int64(),
        "text": pa.string(),
        "lang": pa.string(),
        "source": pa.string(),
        "n_chars": pa.int64(),
    },
    "embeddings": {
        "vec_id": pa.int64(),
        "embedding": pa.list_(pa.float32()),
        "label": pa.int32(),
    },
}

# Representative keys across every operator family (running all 111
# at session scope would double the suite's runtime for little extra
# signal — these cover each distinct code path class).
REPRESENTATIVE = [
    "scan_project",
    "count_sum",
    "rollup_agg",
    "window_rank",
    "join_inner",
    "join_asof",
    "merge_upsert",
    "sessionize",
    "set_ops",
    "text_quality",
    "tfidf_topk",
    "dedup_exact",
    "dedup_minhash",
    "dedup_paragraph",
    "boilerplate_strip",
    "dedup_clusters",
    "duplicate_spans",
    "remove_duplicate_spans",
    "shard_pack",
    "mix_sources",
    "corpus_pipeline",
    "contamination_check",
    "decontaminate_spans",
    "perplexity_buckets",
    "curriculum_order",
    "corpus_delta",
    "multimodal_cdc_dedup",
    "similarity_topk",
    "embedding_neardup",
    "funnel_match",
    "attribution_join",
    "domain_stats",
    "pii_scrub",
    "sample_stratified",
    "cms_user_sketch",
    "user_components",
    "label_consolidate",
    "pipeline_e2e",
    "quality_model_score",
    # round-5 additions
    "dsir_weights",
    "validate_constraints",
    "dedup_incremental",
    "dedup_incremental_near",
    "semantic_dedup",
    "knn_join",
    "chunk_documents",
    "mix_temperature",
    "url_canonical",
    "pack_sequences",
    "c4_line_filter",
    # round-6 additions
    "corpus_shuffle",
    "bpe_token_count",
    "pack_sequences_bpe",
    # round-7 additions
    "corpus_incremental",
    "ann_multiprobe_topk",
    "bm25_topk",
    "sample_weighted",
    "gap_fill",
    "pagerank",
    "bpe_train",
    "pack_bins_harmonic",
    "quality_bigram_nll",
    "blocklist_filter",
    "dedup_url",
    "text_normalize",
    "sample_group",
    "entropy_filter",
    "pii_luhn",
    "keyword_tag",
    "dedup_cross_source",
    "quality_fasttext_score",
    "group_quantiles",
    "chi2_keywords",
    "domain_rank",
    "tag_and_filter",
    "dataset_card",
    "contamination_matrix",
    "bpe_fertility",
    # round-8 additions
    "quality_trigram_nll",
    "cluster_topics",
    "card_drift",
    "quality_kn_nll",
    # round-9 additions
    "ann_pq_frozen_topk",
    "ann_ivf_pq_frozen_topk",
    "quality_4gram_nll",
    "quality_5gram_nll",
    "quality_kn3_nll",
    # round-10 additions
    "quality_kn4_nll",
    "quality_kn5_nll",
    "quality_model_frozen_score",
    "semantic_dedup_seeded",
    "ann_ivf_seeded_topk",
    "ann_ivf_pq_seeded_topk",
    "heavy_hitters",
    # round-11 additions
    "hll_registers",
    "hll_grouped",
    "bloom_decontaminate",
    "embedding_drift",
    # round-12 additions
    "split_leakage_safe",
    "sample_token_budget",
    "fim_transform",
    "chat_sft_render",
    "dedup_prefix",
    "shard_manifest",
    "ann_recall_audit",
    "lsh_recall_audit",
    "containment_dedup",
]


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_sf")
    for name, cols in _SCHEMAS.items():
        tbl = pa.table({c: pa.array([], t) for c, t in cols.items()})
        pq.write_table(tbl, str(d / f"{name}.parquet"))
    return str(d)


_QUERIES = entrymod.queries()


def test_representative_names_are_registry_keys():
    """A retired key must leave REPRESENTATIVE with it; this names any
    stale entry instead of letting it vanish from the sweep."""
    assert [k for k in REPRESENTATIVE if k not in _QUERIES] == []


@pytest.mark.parametrize("key", REPRESENTATIVE)
def test_query_survives_empty_tables(spark, empty_dir, key):
    df = _QUERIES[key](spark, empty_dir)
    # any row count is valid (global aggs may emit one row of
    # nulls/zeros); the contract is NO CRASH and a stable schema
    assert df.count() >= 0
    assert df.schema.fieldNames()
    spark.catalog.clearCache()


@pytest.fixture(scope="module")
def tiny_docs_dir(tmp_path_factory):
    """A documents table whose rows are all DEGENERATE: empty text
    (split('', ' ') yields [''] — size 1, not 0), a 1-token doc, and a
    2-token doc. The r8 advice item: F.slice('toks', 1, n-2) throws
    INVALID_PARAMETER_VALUE.LENGTH when n-2 < 0, so the trigram rung
    crashed on any <=2-token doc while its DuckDB oracle (guarded with
    greatest(..., 0)) did not — an engine divergence on valid input
    that no fixture happened to contain."""
    d = tmp_path_factory.mktemp("tiny_sf")
    for name, cols in _SCHEMAS.items():
        if name == "documents":
            continue
        tbl = pa.table({c: pa.array([], t) for c, t in cols.items()})
        pq.write_table(tbl, str(d / f"{name}.parquet"))
    docs = pa.table(
        {
            "doc_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "text": pa.array(
                ["", "one", "two tokens", "a b c d", "a b c d e"], pa.string()
            ),
            "lang": pa.array(["en"] * 5, pa.string()),
            "source": pa.array(["s"] * 5, pa.string()),
            "n_chars": pa.array([0, 3, 10, 7, 9], pa.int64()),
        }
    )
    pq.write_table(docs, str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "key",
    [
        "quality_unigram_nll",
        "quality_bigram_nll",
        "quality_kn_nll",
        "quality_trigram_nll",
        "quality_4gram_nll",
        "quality_5gram_nll",
        "quality_kn3_nll",
        "quality_kn4_nll",
        "quality_kn5_nll",
    ],
)
def test_nll_ladder_survives_short_docs(spark, tiny_docs_dir, key):
    df = _QUERIES[key](spark, tiny_docs_dir)
    rows = df.collect()
    # docs with fewer tokens than the model order have no transition
    # and are simply absent; the 5-token doc scores at every rung
    assert {r["doc_id"] for r in rows} >= {5}
    spark.catalog.clearCache()


def test_fim_transform_survives_short_docs(spark, tiny_docs_dir):
    """FIM's cut modulos divide by n-2 / n-1-a, which are ≤0 on 1-2
    token docs (the r8 slice-hazard class). Both engines yield NULL
    there and the apply gate (n >= FIM_MIN_TOKENS) keeps those rows on
    the passthrough branch — pinned on the degenerate fixture in BOTH
    engines (values equal, not just no-crash)."""
    import duckdb

    import __spark_entry__ as em

    sdf = _QUERIES["fim_transform"](spark, tiny_docs_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tiny_docs_dir}/documents.parquet')"
    )
    ddf = con.execute(em.oracle_sql()["fim_transform"]).fetchdf()
    con.close()
    from tests.oracle_utils import assert_parity

    assert_parity(sdf, ddf, "fim_transform[tiny]")
    by_id = {r.doc_id: r for r in sdf.itertuples()}
    # empty text (n=1 after split) and 1/2-token docs must pass through
    for d in (1, 2, 3):
        assert by_id[d].fim_applied == 0


def test_chat_sft_render_survives_short_docs(spark, tiny_docs_dir):
    """The SFT cut's divisor least(n-1, cap) is 0 on 1-token docs —
    NULL in both engines (the fim %-by-zero contract) — and the apply
    gate keeps those rows on the passthrough branch; the 2-token doc
    is the smallest applied case (k=1, one-token response). Parity
    value-compared on the degenerate fixture in BOTH engines."""
    import duckdb

    import __spark_entry__ as em

    sdf = _QUERIES["chat_sft_render"](spark, tiny_docs_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tiny_docs_dir}/documents.parquet')"
    )
    ddf = con.execute(em.oracle_sql()["chat_sft_render"]).fetchdf()
    con.close()
    from tests.oracle_utils import assert_parity

    assert_parity(sdf, ddf, "chat_sft_render[tiny]")
    by_id = {r.doc_id: r for r in sdf.itertuples()}
    for d in (1, 2):  # '' -> n=1, 'one' -> n=1: passthrough
        assert by_id[d].sft_applied == 0
    assert by_id[3].sft_applied == 1 and by_id[3].k_instr == 1
