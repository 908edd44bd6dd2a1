"""Randomized-corpus oracle parity: the fixed fixture can hide agreement
by coincidence, so the text/dedup pipeline re-verifies on procedurally
generated corpora with deliberately nasty shapes — empty documents,
sub-shingle-length documents, exact-duplicate groups, planted near-dups —
running the SAME Spark operator and the SAME DuckDB oracle SQL over a
fresh view set per corpus. Any engine-divergent assumption (hash edge
case, empty-array fold, tie handling, NULL propagation) that the fixture
happens to never exercise fails here.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from tests.conftest import assert_frames_match

#: Keys whose FULL output is deterministic (no top-k boundary where random
#: ties could legitimately differ) and whose only input is `documents`.
KEYS = (
    "llm_dedup_exact",
    "llm_dedup_ngram",
    "llm_dedup_minhash",
    "llm_dedup_simhash",
    "llm_dedup_clusters",
    "llm_dedup_minhash_clusters",
    "llm_dedup_semantic",
    "llm_split_leakage_safe",
    "llm_text_profile",
    "llm_text_fingerprint",
    "llm_doc_embed_hash",
    # multimodal stages (documents-only): the empty-payload sentinel paths
    # only exist on random corpora — the fixture has no empty docs
    "llm_multimodal",
    "llm_multimodal_resize",
    "llm_multimodal_frames",
    "llm_multimodal_features",
    # round-5 additions: bigram-perplexity gate (its <2-token sentinel
    # path only exists on random corpora) and curriculum ordering
    "llm_perplexity_filter",
    "llm_curriculum_order",
    # file-per-doc scan edges: zero-byte payload files are SKIPPED by
    # Spark's text/binaryFile sources (seed-61 exhaustive-fuzz find);
    # the corpus plants doc 350 (empty, %7==0) to pin the skip path
    "scan_text",
    "scan_binaryfile",
    # round-10: the line filter's empty-text / sub-tile-length / exact-dup
    # paths only exist on random corpora — the fixture has none of them
    "llm_line_boilerplate",
    # round-10: ECE with the zero-marker uniform-prior path (random docs
    # with none of the three markers land in the prior bin)
    "llm_eval_calibration",
    # round-11: URL canonicalization/dedup (doc_id-keyed synthesis — the
    # random corpus varies ID DENSITY, exercising partial dup groups),
    # the domain-authority iteration on the 6-domain random graph, and
    # the packing report over empty/1-token docs
    "llm_url_canonicalize",
    "llm_dedup_url",
    "llm_domain_authority",
    "llm_pack_quality",
    # round-12: HTML extraction over empty/1-token docs (empty <p1> and
    # whitespace-collapse edges only exist on random corpora) and the
    # trainset's 2-source balance fold (random corpus: web/book split)
    "llm_html_extract",
    "llm_classifier_trainset",
    # round-13: the KN scorer's <2-token sentinel + single-continuation
    # P=1 edges and the DoReMi reweight's degenerate source mixes only
    # exist on random corpora
    "llm_kn_bigram_lm",
    "llm_domain_mix_reweight",
)

_SEEDS = (7, 23)
_CORPUS_CACHE: dict[int, tuple[str, object]] = {}


def _random_corpus(spark, tmp_path_factory, seed: int) -> tuple[str, object]:
    """Deterministic random documents table: ~340 docs including empty
    texts, 1- and 2-token docs (below shingle length), 20 exact dups and
    20 one-token-prefix near-dups. Returns (sf_dir, duckdb con with the
    `documents` view registered)."""
    if seed in _CORPUS_CACHE:
        return _CORPUS_CACHE[seed]
    import numpy as np

    rng = np.random.RandomState(seed)
    vocab = [f"w{i}" for i in range(40)] + ["the", "and", "of", "data", "x"]
    n = 300
    rows = []
    for d in range(n):
        ln = int(rng.randint(0, 40))  # 0 ⇒ empty text
        toks = [vocab[int(rng.randint(len(vocab)))] for _ in range(ln)]
        rows.append((d, " ".join(toks)))
    for j in range(20):  # exact duplicates of random originals
        rows.append((n + j, rows[int(rng.randint(n))][1]))
    for j in range(20):  # near-dups: one-token prefix change
        rows.append((n + 20 + j, f"zq{j} " + rows[int(rng.randint(n))][1]))
    # pinned scan edges: empty and 1-char docs on the %7==0 sampling
    # lattice (scan_text / scan_binaryfile zero-byte skip semantics)
    rows.append((350, ""))
    rows.append((357, "x"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["lang"] = [("en", "de", "fr")[i % 3] for i in range(len(pdf))]
    pdf["source"] = [("web", "book")[i % 2] for i in range(len(pdf))]
    pdf["n_chars"] = pdf.text.str.len().astype("int64")
    out = str(tmp_path_factory.mktemp(f"randcorpus{seed}"))
    spark.createDataFrame(pdf).coalesce(2).write.parquet(
        f"{out}/documents.parquet"
    )
    con = duckdb.connect()
    con.execute(  # Spark writes a directory of part files; DuckDB globs it
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{out}/documents.parquet/*.parquet'"
    )
    _CORPUS_CACHE[seed] = (out, con)
    return out, con


@pytest.mark.parametrize("seed", _SEEDS)
@pytest.mark.parametrize("key", KEYS)
def test_random_corpus_parity(spark, tmp_path_factory, key, seed):
    from hive3_replication_spark import memo
    from hive3_replication_spark.registry import build_oracles, build_queries

    sf_dir, con = _random_corpus(spark, tmp_path_factory, seed)
    memo.clear()  # memos are corpus-keyed, but start each key clean
    spark_pdf = build_queries()[key](spark, sf_dir).toPandas()
    oracle_pdf = con.sql(build_oracles()[key]).df()
    assert_frames_match(spark_pdf, oracle_pdf, f"{key}@seed{seed}")


#: Events-only keys with fully deterministic outputs (ties broken by
#: event_id everywhere the fixture keys already guarantee it).
TS_KEYS = (
    "ts_resample",
    "ts_fill_forward",
    "ts_interpolate",
    "ts_ohlc",
    "ts_rollup_hypertable",
    "ts_sessionize",
    "ts_funnel",
    "ts_retention_cohort",
    "ts_ewma",
    "ts_anomaly_zscore",
    "ts_changepoint",
    "ts_seasonal_profile",
    "ts_gap_detect",
    "ts_downsample_lttb",
    "ts_downsample_lttb_hier",
    "ts_acf",
    # round-10: the Holt filter over the irregular hour grid — the 1-6 h
    # gap mixture exercises zero-filled slots inside the 48-lag frame
    "ts_holt_winters",
    # round-11: the backtest over the same irregular grid — random zero
    # hours exercise the sMAPE zero-denominator guard on both forecasters
    "ts_forecast_backtest",
    # round-11: lower-median ties on the 30%-duplicate value stream and
    # negative quantized values are what random events exercise here
    "ts_anomaly_mad",
    # round-13: the CCF over heavy-tailed gaps — random sparse hour grids
    # exercise the inner-join alignment and empty-lag cells, and the
    # duplicate-value streams exercise the zero-variance NULL path
    "ts_cross_correlation",
    "sink_partition_overwrite",
    # windows/streams over the same stream — their (ts, event_id)
    # tie-breaks are what the 30% duplicate timestamps exercise
    "win_lag",
    "win_running_sum",
    "win_range_frame",
    "sort_events",
    "stream_session",
    "stream_dedup",
    "stream_sliding",
    "stream_tumbling",
    "stream_late_data",
)

_EVENTS_CACHE: dict[int, tuple[str, object]] = {}


def _random_events(spark, tmp_path_factory, seed: int) -> tuple[str, object]:
    """Deterministic random events table: monotone timestamps with ~30%
    EXACT duplicates (zero increments — the (ts, event_id) tie-break
    paths must agree cross-engine) and a heavy-tailed increment mixture
    (~5% of gaps in the 1-6 h range so the gap/sessionize paths see real
    silences), negative and positive values, 4 event types, 40 users."""
    if seed in _EVENTS_CACHE:
        return _EVENTS_CACHE[seed]
    import numpy as np

    rng = np.random.RandomState(seed)
    n = 2000
    small = rng.randint(1_000_000, 300_000_000, size=n)  # 1 s .. 5 min
    small = np.where(rng.rand(n) < 0.3, 0, small)  # exact ts ties
    big = rng.randint(3_600_000_000, 21_600_000_000, size=n)  # 1 h .. 6 h
    inc = np.where(rng.rand(n) < 0.05, big, small)
    ts_us = 1_700_000_000_000_000 + np.cumsum(inc)
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": pd.to_datetime(ts_us, unit="us"),
            "user_id": rng.randint(0, 40, size=n).astype("int64"),
            "event_type": [
                ("click", "view", "purchase", "error")[i]
                for i in rng.randint(0, 4, size=n)
            ],
            "value": np.round(rng.randn(n) * 100, 3),
            "props": [f'{{"k": {int(i)}}}' for i in rng.randint(0, 9, n)],
        }
    )
    out = str(tmp_path_factory.mktemp(f"randevents{seed}"))
    spark.createDataFrame(pdf).coalesce(2).write.parquet(
        f"{out}/events.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{out}/events.parquet/*.parquet'"
    )
    _EVENTS_CACHE[seed] = (out, con)
    return out, con


@pytest.mark.parametrize("seed", _SEEDS)
@pytest.mark.parametrize("key", TS_KEYS)
def test_random_events_parity(spark, tmp_path_factory, key, seed):
    from hive3_replication_spark.registry import build_oracles, build_queries

    sf_dir, con = _random_events(spark, tmp_path_factory, seed)
    spark_pdf = build_queries()[key](spark, sf_dir).toPandas()
    oracle_pdf = con.sql(build_oracles()[key]).df()
    assert_frames_match(spark_pdf, oracle_pdf, f"{key}@seed{seed}")


#: The full SQL-workload family (decimal-exact sums + explicit key
#: tiebreaks on every ORDER BY make these deterministic on ANY data).
SQL_KEYS = (
    "sql_pricing_summary",
    "sql_shipping_priority",
    "sql_local_supplier_volume",
    "sql_customer_distribution",
    "sql_top_supplier",
    "sql_parts_supplier_count",
    "sql_order_priority",
    "sql_shipmode_priority",
    "sql_promo_revenue",
    "sql_returned_items",
    "sql_discount_revenue",
    "sql_large_volume_customer",
    "sql_small_quantity_revenue",
    "sql_inactive_customer_balance",
    "sql_nation_volume",
    "sql_market_share",
    "sql_product_profit",
    "sql_waiting_supplier",
    "sql_recursive_hierarchy",
    # round-13: the correlated-min decorrelation — random supply costs
    # make multi-supplier min ties and empty filter results both possible
    "sql_min_cost_supplier",
    # bucketed-layout materialization over an arbitrary dir (the tag
    # sanitization fix was surfaced by exactly this fuzz path)
    "scan_bucketed",
)

_STAR_CACHE: dict[int, tuple[str, object]] = {}


def _random_star(spark, tmp_path_factory, seed: int) -> tuple[str, object]:
    """Random TPC-H-ish star schema with referential integrity and the
    fixture's value domains (dates 1995-2001 covering every query
    literal, Brand#N, '%red%' part names, negative acctbals for the
    correlated-subquery paths). Prices carry <= 2 decimals so the
    engine-wide DECIMAL(18,4) casts are exact on both engines."""
    if seed in _STAR_CACHE:
        return _STAR_CACHE[seed]
    import numpy as np

    from tests.conftest import SF_DIR

    rng = np.random.RandomState(seed)
    out = str(tmp_path_factory.mktemp(f"randstar{seed}"))
    con = duckdb.connect()

    def write(name: str, pdf: pd.DataFrame) -> None:
        con.register(f"_{name}", pdf)
        con.execute(
            f"COPY (SELECT * FROM _{name}) TO '{out}/{name}.parquet'"
        )
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{out}/{name}.parquet'"
        )

    for dim in ("region", "nation"):  # fixed dims, verbatim from fixture
        pdf = duckdb.sql(
            f"SELECT * FROM '{SF_DIR}/{dim}.parquet'"
        ).df()
        write(dim, pdf)

    n_c, n_s, n_p, n_o, n_l = 300, 40, 80, 1500, 6000
    days = pd.to_datetime("1995-01-01") + pd.to_timedelta(
        rng.randint(0, 2400, n_o), unit="D"
    )
    write("customer", pd.DataFrame({
        "c_custkey": np.arange(n_c, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.randint(0, 25, n_c).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": [
            ("MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE",
             "AUTOMOBILE")[i] for i in rng.randint(0, 5, n_c)
        ],
    }))
    write("supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_s, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.randint(0, 25, n_s).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
    }))
    write("part", pd.DataFrame({
        "p_partkey": np.arange(n_p, dtype="int64"),
        "p_name": [
            ("small", "red", "blue", "green", "large")[int(a)]
            + " " + ("ring", "widget", "bolt", "nut", "gear")[int(b)]
            for a, b in zip(rng.randint(0, 5, n_p), rng.randint(0, 5, n_p))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_p)],
        "p_type": [
            ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD")[i]
            for i in rng.randint(0, 5, n_p)
        ],
        "p_size": rng.randint(1, 51, n_p).astype("int32"),
        "p_retailprice": np.round(rng.uniform(100, 2000, n_p), 2),
    }))
    write("orders", pd.DataFrame({
        "o_orderkey": np.arange(n_o, dtype="int64"),
        "o_custkey": rng.randint(0, n_c, n_o).astype("int64"),
        "o_orderstatus": [
            ("F", "O", "P")[i] for i in rng.randint(0, 3, n_o)
        ],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_o), 2),
        "o_orderdate": days,
        "o_orderpriority": [
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
             "5-LOW")[i] for i in rng.randint(0, 5, n_o)
        ],
    }))
    write("lineitem", pd.DataFrame({
        "l_orderkey": rng.randint(0, n_o, n_l).astype("int64"),
        "l_partkey": rng.randint(0, n_p, n_l).astype("int64"),
        "l_suppkey": rng.randint(0, n_s, n_l).astype("int64"),
        "l_linenumber": rng.randint(1, 8, n_l).astype("int32"),
        "l_quantity": rng.randint(1, 51, n_l).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_l), 2),
        "l_discount": np.round(rng.randint(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.randint(0, 9, n_l) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n_l)],
        "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, n_l)],
        "l_shipdate": pd.to_datetime("1995-01-01") + pd.to_timedelta(
            rng.randint(0, 2500, n_l), unit="D"
        ),
    }))
    _STAR_CACHE[seed] = (out, con)
    return out, con


@pytest.mark.parametrize("seed", _SEEDS)
@pytest.mark.parametrize("key", SQL_KEYS)
def test_random_star_parity(spark, tmp_path_factory, key, seed):
    from hive3_replication_spark.registry import build_oracles, build_queries

    sf_dir, con = _random_star(spark, tmp_path_factory, seed)
    spark_pdf = build_queries()[key](spark, sf_dir).toPandas()
    oracle_pdf = con.sql(build_oracles()[key]).df()
    assert_frames_match(spark_pdf, oracle_pdf, f"{key}@seed{seed}")



#: Join / aggregate / window families over the FULL random dataset
#: (every table, procedurally generated by scripts.fuzz_registry.gen) at
#: one seed — the round-5 fold of the exhaustive fuzz's remaining
#: families into CI (VERDICT r4 item 7). Deterministic on any data: the
#: engine's decimal accumulation + explicit key tiebreaks (seeds 11/29/37
#: passed 220/220 in the round-4 exhaustive sweeps).
FULL_KEYS = (
    "join_broadcast", "join_left", "join_semi", "join_anti", "join_full",
    "join_sortmerge", "join_theta", "join_range", "join_asof",
    "join_asof_forward", "join_asof_nearest", "join_snapshot_diff",
    "join_skew_salted",
    "join_bloom_prefilter", "join_watermark_compare", "merge_scd2",
    "agg_groupby", "agg_distinct", "agg_rollup", "agg_cube",
    "agg_grouping_sets", "agg_histogram", "agg_mode", "agg_conditional",
    "agg_arg_max", "agg_percentile", "agg_stats", "agg_corr",
    "agg_regression", "agg_dq_checks", "agg_bitmap_distinct",
    "agg_count_min", "agg_string_agg", "agg_table_profile",
    "win_row_number", "win_rank", "win_lag", "win_first_value",
    "win_ntile", "win_topk_per_group", "win_latest_per_group",
    "win_distinct_running", "win_distribution", "win_pattern_match",
    # round-5 widening: the scalar-fn / filter / reshape / sort / set-op
    # families (all proven deterministic on random data by the
    # exhaustive 222/222 sweeps at seeds 11/29/37/43/57)
    "fn_regexp_extract", "fn_array", "fn_url", "fn_case_when", "fn_cast",
    "fn_math", "fn_hash", "fn_regexp_replace", "fn_split",
    "fn_date_format", "fn_map", "fn_json", "fn_div_mod",
    "fn_datetime_extract", "fn_levenshtein", "fn_try_arith", "fn_concat",
    "fn_variant", "fn_date_arith", "fn_crypto_roundtrip", "fn_param_sql",
    "fn_collate",
    "filter_dpp", "filter_prefix", "filter_null", "filter_multi_rlike",
    "filter_table_class", "filter_negative", "filter_isin", "filter_rlike",
    "filter_gt_watermark", "string_scrub", "project_columns",
    "row_offset_filter",
    "reshape_unpivot", "reshape_explode", "reshape_struct_flatten",
    "reshape_pivot",
    "sort_top1", "sort_topk", "set_except", "set_union", "set_intersect",
    # round-10: the retrieval eval/rerank pair needs the full dataset's
    # embeddings relation (random labels exercise the sparse-grade and
    # missing-arm paths the fixture's dense labels never hit)
    "llm_eval_ndcg", "llm_mmr_rerank",
)

_FULL_SEED = 11  # the round-4 bug-finding seed
_FULL_CACHE: dict[int, tuple[str, object]] = {}


def _full_dataset(tmp_path_factory, seed: int) -> tuple[str, object]:
    if seed in _FULL_CACHE:
        return _FULL_CACHE[seed]
    from scripts.fuzz_registry import gen

    out = str(tmp_path_factory.mktemp(f"randfull{seed}"))
    gen(seed, out)
    import glob

    con = duckdb.connect()
    for p in glob.glob(f"{out}/*.parquet"):
        name = p.split("/")[-1].replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    _FULL_CACHE[seed] = (out, con)
    return out, con


@pytest.mark.parametrize("key", FULL_KEYS)
def test_random_full_parity(spark, tmp_path_factory, key):
    from hive3_replication_spark.registry import build_oracles, build_queries

    sf_dir, con = _full_dataset(tmp_path_factory, _FULL_SEED)
    spark_pdf = build_queries()[key](spark, sf_dir).toPandas()
    oracle_pdf = con.sql(build_oracles()[key]).df()
    assert_frames_match(spark_pdf, oracle_pdf, f"{key}@seed{_FULL_SEED}")


def test_partition_overwrite_all_errors_last_day(spark, tmp_path_factory):
    """ADVICE r5 (medium): if EVERY last-day event is 'error', the
    restated frame is empty, dynamic overwrite matches no partition, and
    the stale last-day partition would survive while the oracle drops all
    its rows. The engine now deletes the partition explicitly; this corpus
    (2 normal days + a sparse final day of only errors) pins the edge."""
    import numpy as np

    from hive3_replication_spark.registry import build_oracles, build_queries

    rng = np.random.RandomState(5)
    n = 300
    ts = pd.to_datetime("2024-03-01") + pd.to_timedelta(
        np.sort(rng.randint(0, 2 * 86400, n)), unit="s"
    )
    types = [("click", "view", "error")[i] for i in rng.randint(0, 3, n)]
    # final day: ONLY error events
    ts_last = pd.to_datetime("2024-03-03") + pd.to_timedelta(
        np.sort(rng.randint(0, 86400, 7)), unit="s"
    )
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n + 7, dtype="int64"),
            "ts": list(ts) + list(ts_last),
            "user_id": rng.randint(0, 20, n + 7).astype("int64"),
            "event_type": types + ["error"] * 7,
            "value": np.round(rng.randn(n + 7) * 50, 3),
            "props": ['{"k": 1}'] * (n + 7),
        }
    )
    out = str(tmp_path_factory.mktemp("allerrlastday"))
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{out}/events.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{out}/events.parquet/*.parquet'"
    )
    key = "sink_partition_overwrite"
    spark_pdf = build_queries()[key](spark, out).toPandas()
    oracle_pdf = con.sql(build_oracles()[key]).df()
    assert_frames_match(spark_pdf, oracle_pdf, f"{key}@all-errors-last-day")
    # the stale partition is gone: no last-day row in the read-back
    assert "2024-03-03" not in set(spark_pdf["event_date"])


def test_partition_overwrite_single_day_all_errors(spark, tmp_path_factory):
    """ADVICE r6 (medium): when the events table's ONLY day is all-error
    rows, the restatement empties the table's sole partition. The old
    fix deleted the partition dir outright, leaving the table dir with
    no parquet footers — the read-back then crashed with
    UNABLE_TO_INFER_SCHEMA while the oracle returned an empty frame.
    The path-targeted empty overwrite keeps a metadata-only footer in
    the dir (SPARK-23271), so the read-back yields an empty summary."""
    import numpy as np

    from hive3_replication_spark.registry import build_oracles, build_queries

    rng = np.random.RandomState(11)
    n = 9
    ts = pd.to_datetime("2024-04-01") + pd.to_timedelta(
        np.sort(rng.randint(0, 86400, n)), unit="s"
    )
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": ts,
            "user_id": rng.randint(0, 5, n).astype("int64"),
            "event_type": ["error"] * n,
            "value": np.round(rng.randn(n) * 50, 3),
            "props": ['{"k": 1}'] * n,
        }
    )
    out = str(tmp_path_factory.mktemp("onedayallerr"))
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{out}/events.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{out}/events.parquet/*.parquet'"
    )
    key = "sink_partition_overwrite"
    spark_pdf = build_queries()[key](spark, out).toPandas()
    oracle_pdf = con.sql(build_oracles()[key]).df()
    assert len(spark_pdf) == 0 and len(oracle_pdf) == 0
    assert_frames_match(spark_pdf, oracle_pdf, f"{key}@single-day-all-errors")


def test_degenerate_boilerplate_corpus(spark, tmp_path_factory):
    """The boilerplate-heavy shape every dedup docstring worries about:
    200 IDENTICAL documents (one shingle set shared by the whole block)
    plus 100 random ones. Every blocking scheme's bucket holds the whole
    duplicate group, so this pins the cap-boundary and full-clique
    behavior cross-engine (C(200,2) pairs must enumerate identically)."""
    import numpy as np

    from hive3_replication_spark import memo
    from hive3_replication_spark.registry import build_oracles, build_queries

    rng = np.random.RandomState(3)
    vocab = [f"w{i}" for i in range(30)]
    boiler = " ".join(vocab[int(rng.randint(30))] for _ in range(25))
    rows = [(d, boiler) for d in range(200)]
    for d in range(200, 300):
        rows.append((d, " ".join(vocab[int(rng.randint(30))]
                                 for _ in range(int(rng.randint(3, 30))))))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["lang"] = ["en"] * len(pdf)
    pdf["source"] = ["web"] * len(pdf)
    pdf["n_chars"] = pdf.text.str.len().astype("int64")
    out = str(tmp_path_factory.mktemp("boiler"))
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{out}/documents.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{out}/documents.parquet/*.parquet'"
    )
    q, o = build_queries(), build_oracles()
    for key in (
        "llm_dedup_exact",
        "llm_dedup_minhash",
        "llm_dedup_clusters",
        "llm_dedup_minhash_clusters",
        "llm_dedup_semantic",
        "llm_split_leakage_safe",
        "llm_dedup_graph_stats",
        # round-10: 200 identical docs = every line at corpus frequency
        # 200 — the whole duplicate block's text must strip to empty
        "llm_line_boilerplate",
    ):
        memo.clear()
        assert_frames_match(
            q[key](spark, out).toPandas(), con.sql(o[key]).df(), key
        )
    # the 200-clique enumerates completely (bucket of 200 < the 1000 cap)
    memo.clear()
    assert q["llm_dedup_minhash"](spark, out).count() >= 200 * 199 // 2


def test_calibration_null_gold_labels(spark, tmp_path_factory):
    """Round-10 review regression: a NULL gold ``lang`` must score
    INCORRECT (0) identically in both engines — Spark's raw
    ``(pred == lang)`` yields NULL, whose NULL-skipping SUM would
    silently drop the bin's gap from the ECE while DuckDB's CASE counts
    it. No standard corpus (fixture, random, fuzz) emits NULL lang, so
    this plants one corpus that is ~half NULL-labeled."""
    rows = []
    for d in range(60):
        text = ("the data spark", "data data x", "spark only w")[d % 3]
        rows.append((d, text, None if d % 2 == 0 else "en"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    pdf["source"] = ["web"] * len(pdf)
    pdf["n_chars"] = pdf.text.str.len().astype("int64")
    out = str(tmp_path_factory.mktemp("nulllang"))
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{out}/documents.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{out}/documents.parquet/*.parquet'"
    )
    from hive3_replication_spark.registry import build_oracles, build_queries

    key = "llm_eval_calibration"
    spark_pdf = build_queries()[key](spark, out).toPandas()
    oracle_pdf = con.sql(build_oracles()[key]).df()
    assert_frames_match(spark_pdf, oracle_pdf, f"{key}@null-gold")
    # every NULL-labeled doc counted as incorrect, none dropped
    assert spark_pdf.n.sum() == 60
    assert spark_pdf.n_correct.sum() <= 30


def test_domain_authority_null_provenance(spark, tmp_path_factory):
    """Round-11 review regression: documents with NULL lang/source must
    be DROPPED from the domain graph identically in both engines —
    without the explicit filter, Spark's concat_ws skips NULL parts
    while DuckDB's || yields a NULL host, and the two engines rank
    NULLs at opposite ends of dense_rank, shifting every domain_id (and
    with it every mod-addressed edge target). No standard corpus emits
    NULL provenance, so this plants one that is ~third NULL-labeled."""
    rows = []
    for d in range(90):
        lang = (None, "en", "de")[d % 3]
        source = ("web", None, "book")[d % 3 if d % 5 else 1]
        rows.append((d, f"tok{d} data", lang, source))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf.text.str.len().astype("int64")
    out = str(tmp_path_factory.mktemp("nullprov"))
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{out}/documents.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{out}/documents.parquet/*.parquet'"
    )
    from hive3_replication_spark import memo
    from hive3_replication_spark.registry import build_oracles, build_queries

    memo.clear()
    key = "llm_domain_authority"
    spark_pdf = build_queries()[key](spark, out).toPandas()
    oracle_pdf = con.sql(build_oracles()[key]).df()
    memo.clear()
    assert_frames_match(spark_pdf, oracle_pdf, f"{key}@null-prov")
    # only fully-labeled (lang, source) pairs form domains; no NULL or
    # partially-concatenated host may appear
    assert spark_pdf.host.notna().all()
    assert all(h.count(".") == 3 for h in spark_pdf.host)


def test_round12_ops_null_columns(spark, tmp_path_factory):
    """Round-12 regression: NULL text/lang/source must flow identically
    through both new ops in both engines. L39 coalesces all three to ''
    BEFORE concat (Spark's concat NULL-propagates, DuckDB's skips NULLs
    — without the pin the engines build DIFFERENT pages); L40 excludes
    NULL-source docs from both pools (min() skips NULLs, both CASE arms
    need a non-NULL source). No standard corpus emits these NULLs, so
    this plants one that is ~third NULL in every column."""
    rows = []
    for d in range(90):
        # the non-trivial text plants \x0b (in Java's \s but NOT RE2's),
        # \xa0 (in Python's Unicode \s but neither engine's), and \t —
        # the three-way whitespace-class divergence the explicit
        # [ \t\r\n\x0b\f] collapse class exists for (round-12 review,
        # verified live in DuckDB)
        text = (None, "", "the\x0bdata\xa0spark\tx and of")[d % 3]
        lang = ("en", None, "de")[d % 3]
        source = ("web", "book", None)[d % 3]
        rows.append((d, text, lang, source))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf.text.str.len().astype("float").fillna(0).astype("int64")
    out = str(tmp_path_factory.mktemp("nullcols12"))
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{out}/documents.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{out}/documents.parquet/*.parquet'"
    )
    from hive3_replication_spark.registry import build_oracles, build_queries

    q, o = build_queries(), build_oracles()
    for key in ("llm_html_extract", "llm_classifier_trainset"):
        assert_frames_match(
            q[key](spark, out).toPandas(), con.sql(o[key]).df(),
            f"{key}@null-cols",
        )
    # L39: every row survives with a non-NULL page (NULL text ⇒ the
    # fixed scaffold text only)
    got = q["llm_html_extract"](spark, out).toPandas()
    assert len(got) == 90 and got.body_text.notna().all()
    null_text = got[got.doc_id % 3 == 0]
    assert (
        null_text.body_text.str.endswith("<draft> tail & end &lt;esc&gt;")
    ).all()
    # L40: the 30 NULL-source docs are in neither class
    trained = q["llm_classifier_trainset"](spark, out).toPandas()
    assert (trained.doc_id % 3 != 2).all()
    assert set(trained[trained.doc_id % 3 == 1].label) == {1}  # book


def test_round12_ops_hostile_and_degenerate_corpora(spark, tmp_path_factory):
    """Round-12 hardening: (a) HOSTILE text — documents whose text
    contains markup-looking fragments (partial entities, unclosed tags,
    a literal </body>, regex metachars) must extract identically in
    both engines (the synthesis embeds text verbatim, so a planted
    </body> legitimately truncates the body span — in BOTH engines);
    (b) a SINGLE-SOURCE corpus degrades the trainset to positives-only
    (thr=0), (c) an EMPTY corpus yields empty outputs — all three as
    engine-vs-oracle parity, not just engine assertions."""
    from hive3_replication_spark.registry import build_oracles, build_queries

    q, o = build_queries(), build_oracles()
    hostile = [
        "plain words here",
        "amp& frag &amp tail",          # unterminated entity
        "&lt;kept&gt; <b>unclosed",     # decodable entity + dangling tag
        "a>b<c",                        # bare angle brackets
        "x </body> y",                  # body-span truncator
        "dot.* star[+] (paren) |pipe",  # regex metachars
        "<script>not really",           # unterminated script opener
    ]
    rows = [(i, t, "en", ("web", "book")[i % 2]) for i, t in enumerate(hostile)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf.text.str.len().astype("int64")
    out = str(tmp_path_factory.mktemp("hostile12"))
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        f"{out}/documents.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{out}/documents.parquet/*.parquet'"
    )
    for key in ("llm_html_extract", "llm_classifier_trainset"):
        assert_frames_match(
            q[key](spark, out).toPandas(), con.sql(o[key]).df(),
            f"{key}@hostile",
        )
    got = q["llm_html_extract"](spark, out).toPandas().set_index("doc_id")
    # the planted </body> truncates the span identically (parity above);
    # the fragment BEFORE it survives
    assert got.loc[4, "body_text"].endswith("x"), got.loc[4, "body_text"]
    # decodable entities inside user text decode; unterminated ones pass
    assert "<kept>" in got.loc[2, "body_text"]
    assert "&amp tail" in got.loc[1, "body_text"]

    # single source: positives only, thr=0 path
    pdf2 = pdf.assign(source="only")
    out2 = str(tmp_path_factory.mktemp("singlesrc12"))
    spark.createDataFrame(pdf2).coalesce(1).write.parquet(
        f"{out2}/documents.parquet"
    )
    con2 = duckdb.connect()
    con2.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{out2}/documents.parquet/*.parquet'"
    )
    key = "llm_classifier_trainset"
    eng = q[key](spark, out2).toPandas()
    assert_frames_match(eng, con2.sql(o[key]).df(), f"{key}@single-source")
    assert set(eng.label) == {1} and len(eng) == len(pdf2)

    # empty corpus: both ops yield empty, no error (schema must be
    # explicit — Spark cannot infer one from zero pandas rows)
    out3 = str(tmp_path_factory.mktemp("empty12"))
    spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.parquet(f"{out3}/documents.parquet")
    con3 = duckdb.connect()
    con3.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{out3}/documents.parquet/*.parquet'"
    )
    for key in ("llm_html_extract", "llm_classifier_trainset"):
        eng = q[key](spark, out3).toPandas()
        assert_frames_match(eng, con3.sql(o[key]).df(), f"{key}@empty")
        assert len(eng) == 0
