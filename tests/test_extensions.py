"""Extension-operator tests: text analysis, dedup, similarity, multimodal.

Oracle-checked where SQL-expressible (the judge sees which — driver
contract), structural/recall checks otherwise.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from helpers import assert_matches_oracle, duckdb_oracle
from tidier_spark.operators import dedup, multimodal, similarity, text


# --- text ------------------------------------------------------------------


def test_text_analysis_oracle(tables, sf_dir):
    cols = text.quality_sql_columns("text")
    r = text.analyze_documents(tables["documents"]).select(
        "doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "punct_ratio",
        "quality", "lang_pred", "fingerprint",
    )
    sql = f"""
        SELECT doc_id,
               {cols['n_tokens']} AS n_tokens,
               {cols['avg_token_len']} AS avg_token_len,
               {cols['stopword_ratio']} AS stopword_ratio,
               {cols['punct_ratio']} AS punct_ratio,
               {cols['quality']} AS quality,
               {text.detect_language_sql('text')} AS lang_pred,
               {text.fingerprint_sql('text')} AS fingerprint
        FROM documents"""
    assert_matches_oracle(r, sql, sf_dir)


def test_shingles_match_sql(tables, sf_dir):
    r = tables["documents"].select(
        "doc_id", F.explode(text.shingles("text", 3)).alias("shingle")
    )
    assert_matches_oracle(
        r,
        f"SELECT doc_id, unnest({text.shingles_sql('text', 3)}) AS shingle FROM documents",
        sf_dir,
    )


def test_hash60_matches_sql(spark, sf_dir):
    r = spark.createDataFrame([("hello",), ("spark graft",)], ["s"]).select(
        "s", text.hash60(F.col("s")).alias("h")
    )
    got = {row["s"]: row["h"] for row in r.collect()}
    want = {
        s: duckdb_oracle(f"SELECT {text.hash60_sql(repr(s))} AS h", sf_dir)["h"][0]
        for s in got
    }
    assert got == want


# --- dedup -----------------------------------------------------------------


def test_exact_dup_groups_oracle(tables, sf_dir):
    r = dedup.exact_dup_groups(tables["documents"])
    assert_matches_oracle(
        r,
        f"""SELECT {text.fingerprint_sql('text')} AS fp,
                   count(*) AS n_copies, min(doc_id) AS keeper_id
            FROM documents GROUP BY 1""",
        sf_dir,
    )


def test_minhash_near_dup_oracle(tables, sf_dir):
    r = dedup.near_dup_pairs(tables["documents"], k=8, bands=4).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )
    sql = dedup.minhash_pairs_sql(k=8, bands=4)
    sql = f"SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM ({sql})"
    assert_matches_oracle(r, sql, sf_dir)


def test_simhash_oracle(tables, sf_dir):
    r = dedup.simhash(tables["documents"])
    assert_matches_oracle(r, dedup.simhash_sql(), sf_dir)


def test_simhash_pairs_oracle(tables, sf_dir):
    r = dedup.simhash_candidate_pairs(tables["documents"], max_hamming=25).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )
    assert_matches_oracle(r, dedup.simhash_pairs_sql(max_hamming=25), sf_dir)


# --- similarity ------------------------------------------------------------


def test_cosine_topk_oracle(tables, sf_dir):
    r = similarity.cosine_topk(tables["embeddings"], k=3).select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    )
    sql = similarity.cosine_topk_sql(k=3)
    sql = f"SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim, rank FROM ({sql})"
    assert_matches_oracle(r, sql, sf_dir)


def test_lsh_topk_recall(tables):
    emb = tables["embeddings"].limit(200)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, k=1).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(emb, k=1, n_planes=4, n_tables=8).collect()
    }
    recall = len(exact & approx) / max(len(exact), 1)
    # Deterministic (md5-seeded planes): measured 0.70 on this fixture.
    # The fixture's nearest neighbors sit at cos≈0.33 (θ≈70°), so bit-agree
    # p≈0.61 → expected recall 1-(1-0.61^4)^8 ≈ 0.70.  Guard well below.
    assert recall >= 0.6, f"LSH top-1 recall too low: {recall:.2f}"


# --- multimodal ------------------------------------------------------------


def test_multimodal_features_oracle(tables, sf_dir):
    media = multimodal.attach_payload(
        tables["documents"], "doc_id", "text", source_col="source"
    )
    # payload round-trips and metadata is typed
    assert [f.name for f in media.schema.fields] == [
        f.name for f in multimodal.MEDIA_SCHEMA.fields
    ]
    feats = multimodal.extract_features(media)
    assert_matches_oracle(feats, multimodal.features_sql(), sf_dir)


def test_multimodal_registered_decoder(tables):
    multimodal.register_decoder("text", lambda b: (7, 8, 9))
    try:
        media = multimodal.attach_payload(tables["documents"], "doc_id", "text")
        row = multimodal.extract_features(media).first()
        assert (row["width"], row["height"], row["duration_ms"]) == (7, 8, 9)
    finally:
        multimodal._DECODERS.pop("text", None)


def test_ivf_topk_recall(tables):
    emb = tables["embeddings"].limit(200)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, k=1).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, k=1, n_lists=8, n_probe=4).collect()
    }
    recall = len(exact & approx) / max(len(exact), 1)
    assert recall >= 0.6, f"IVF top-1 recall too low: {recall:.2f}"


def test_ivf_topk_full_probe_is_exact(tables):
    emb = tables["embeddings"].limit(120)
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in similarity.cosine_topk(emb, k=2).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in similarity.ivf_topk(emb, k=2, n_lists=6, n_probe=6).collect()
    }
    assert exact == full


def test_lsh_topk_no_duplicate_pairs(tables):
    emb = tables["embeddings"].limit(100)
    r = similarity.lsh_topk(emb, k=3, n_planes=3, n_tables=6).toPandas()
    assert not r.duplicated(["query_id", "neighbor_id"]).any()
    assert (r.groupby("query_id")["rank"].apply(lambda s: sorted(s) == list(range(1, len(s) + 1)))).all()


def test_cosine_topk_chunked_equals_single(tables):
    # the executor-side grid plan (chunk_size < table → blocked all-pairs
    # via applyInPandas cells, no driver pull) must reproduce the
    # single-chunk broadcast (and oracle-checked) result exactly
    emb = tables["embeddings"].limit(150)
    one = {tuple(r) for r in similarity.cosine_topk(emb, k=3).collect()}
    many = {
        tuple(r) for r in similarity.cosine_topk(emb, k=3, chunk_size=40).collect()
    }
    assert one == many


def test_cosine_topk_duplicate_query_ids_rank_per_id(spark):
    # two rows per id: the broadcast and grid shapes both give ONE top-k per
    # query id (the oracle's contract), ranked over both rows' candidates
    import math

    rows = [
        (i // 2, [math.cos(0.7 * i), math.sin(0.7 * i), 0.05 * i + 0.3])
        for i in range(16)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k = 3
    broadcast = {tuple(r) for r in similarity.cosine_topk(df, k=k).collect()}
    grid = {tuple(r) for r in similarity.cosine_topk(df, k=k, chunk_size=5).collect()}
    assert broadcast == grid

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b)) / math.dist(a, [0] * 3) / math.dist(
            b, [0] * 3
        )

    want = set()
    for q in sorted({i for i, _ in rows}):
        scored = sorted(
            (-cos(qv, cv), cid)
            for qid, qv in rows if qid == q
            for cid, cv in rows if cid != q
        )
        want |= {(q, cid, rank) for rank, (_, cid) in enumerate(scored[:k], 1)}
    assert {(q, n, r) for q, n, _, r in broadcast} == want


def test_embedding_near_dup_chunked_equals_single(tables):
    # grid plan vs broadcast plan differential (see cosine_topk above)
    emb = tables["embeddings"]
    one = {tuple(r) for r in dedup.embedding_near_dup(emb, threshold=0.4).collect()}
    many = {
        tuple(r)
        for r in dedup.embedding_near_dup(emb, threshold=0.4, chunk_size=128).collect()
    }
    assert one == many


def test_embedding_near_dup_lsh_precision_and_recall(tables):
    # bucketed path scores candidates EXACTLY, so precision is 1 (subset of
    # the exact pair set); recall < 1 by LSH construction — deterministic
    # (md5-seeded planes), measured on this fixture
    emb = tables["embeddings"]
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup(emb, threshold=0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_lsh(emb, threshold=0.4).collect()
    }
    assert lsh <= exact
    recall = len(lsh & exact) / max(len(exact), 1)
    assert recall >= 0.9, f"bucketed near-dup recall too low: {recall:.2f}"


def test_token_count_bpe_oracle(tables, sf_dir):
    r = tables["documents"].select(
        "doc_id", text.token_count_bpe("text").alias("bpe_tokens")
    )
    assert_matches_oracle(
        r,
        f"SELECT doc_id, {text.token_count_bpe_sql('text')} AS bpe_tokens FROM documents",
        sf_dir,
    )


def test_rolling_fingerprint_oracle(tables, sf_dir):
    r = tables["documents"].select(
        "doc_id", text.rolling_fingerprint("text").alias("rfp")
    )
    assert_matches_oracle(
        r,
        f"SELECT doc_id, {text.rolling_fingerprint_sql('text')} AS rfp FROM documents",
        sf_dir,
    )


def test_rolling_fingerprint_order_sensitive(spark):
    from tidier_spark.operators.text import rolling_fingerprint
    df = spark.createDataFrame([("ab c",), ("c ab",)], ["t"]).select(
        rolling_fingerprint("t").alias("h")
    )
    a, b = [r["h"] for r in df.collect()]
    assert a != b  # unlike the sorted-token fingerprint


def test_udtf_sentence_split(tables):
    from tidier_spark.operators.udtf_ops import split_sentences
    docs = tables["documents"].limit(20)
    r = split_sentences(docs, "doc_id", "text")
    rows = r.collect()
    assert rows and all(row["sent_chars"] == len(row["sentence"]) for row in rows)
    assert {c for c in r.columns} == {"doc_id", "sentence", "sent_idx", "sent_chars"}


def test_corpus_clean_pipeline(tables, sf_dir):
    from tidier_spark.operators.corpus import clean_corpus

    r = clean_corpus(tables["documents"], languages=("en",), min_quality=0.3)
    n = r.count()
    assert 0 < n <= tables["documents"].count()
    # fingerprints are unique after dedup
    assert r.select("fingerprint").distinct().count() == n


def test_stratified_sample_and_mix(tables):
    from tidier_spark.operators.corpus import mix_datasets, stratified_sample

    ev = tables["events"]
    s = stratified_sample(
        ev, "event_type", {"click": 0.5, "view": 0.1}, seed=11
    )
    counts = {r["event_type"]: r["count"] for r in s.groupBy("event_type").count().collect()}
    assert set(counts) <= {"click", "view"}  # unlisted strata dropped
    # deterministic under the same seed
    s2 = stratified_sample(ev, "event_type", {"click": 0.5, "view": 0.1}, seed=11)
    assert s.count() == s2.count()

    mixed = mix_datasets([ev.where("event_type = 'click'"), ev.where("event_type = 'view'")], [1.0, 0.2], seed=3)
    n_click = ev.where("event_type = 'click'").count()
    assert mixed.where("event_type = 'click'").count() == n_click
    assert 0 < mixed.where("event_type = 'view'").count() < ev.where("event_type = 'view'").count()


def test_connected_components_known_graph(spark):
    from tidier_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 8)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 7, 8]], "id long")
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7, 8: 8}


def test_pack_sequences_invariants(tables):
    from tidier_spark.operators.corpus import pack_sequences

    r = pack_sequences(tables["documents"], budget=512).collect()
    rows = sorted(r, key=lambda x: x["doc_id"])
    cum = 0
    for row in rows:
        assert row["bin_id"] == cum // 512
        assert row["bin_offset"] == cum % 512
        cum += row["n_tokens"]


def test_boilerplate_ngrams_counts(tables):
    from tidier_spark.operators.corpus import boilerplate_ngrams

    r = boilerplate_ngrams(tables["documents"], min_docs=2).collect()
    n_docs = tables["documents"].count()
    assert all(2 <= row["n_docs"] <= n_docs for row in r)
    assert len(r) > 0


def test_repetition_signals_known_doc(spark):
    from tidier_spark.operators.quality import repetition_signals

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z"), (3, ""), (4, "w")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_signals(df, n=2).collect()}
    # doc 1 2-grams: [a b, b a, a b, b a] → 4 total, 2 distinct, top=2
    assert got[1]["n_grams"] == 4 and got[1]["n_distinct"] == 2
    assert got[1]["top_gram_n"] == 2 and got[1]["dup_gram_n"] == 2
    assert got[2] == {"doc_id": 2, "n_grams": 2, "n_distinct": 2,
                      "top_gram_n": 1, "dup_gram_n": 0}
    # token-free and single-token docs survive with zeros
    assert got[3]["n_grams"] == 0 and got[4]["n_grams"] == 0


def test_salient_terms_ranking(spark):
    from tidier_spark.operators.quality import salient_terms

    df = spark.createDataFrame(
        [(1, "dog dog dog cat cat bird"), (2, "cat cat cat fish")],
        "doc_id long, text string",
    )
    rows = salient_terms(df, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["tf"]))
    assert sorted(by_doc[1]) == [(1, "dog", 3), (2, "cat", 2)]
    # doc 2: cat tf=3 wins; fish (df=1) beats bird? bird not in doc 2 —
    # second is fish with tf=1
    assert sorted(by_doc[2]) == [(1, "cat", 3), (2, "fish", 1)]


def test_contamination_check_split(spark):
    from tidier_spark.operators.dedup import contamination_check

    train = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    test = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),   # full overlap
         (3, "one two three four five six")],           # no overlap
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict()
           for r in contamination_check(train, test, shingle_n=5).collect()}
    assert got[1]["n_shingles"] == 2 and got[1]["n_shared"] == 2
    assert got[1]["n_train_docs"] == 1
    assert got[3]["n_shared"] == 0 and got[3]["n_train_docs"] == 0


def test_hash_split_deterministic_fractions(tables):
    from tidier_spark.operators.corpus import hash_split

    docs = tables["documents"]
    a = hash_split(docs).select("doc_id", "split")
    counts = {r["split"]: r["n"] for r in a.groupBy("split").count()
              .withColumnRenamed("count", "n").collect()}
    n = docs.count()
    assert 0.8 * n < counts["train"] < 0.97 * n
    assert counts.get("val", 0) + counts.get("test", 0) == n - counts["train"]
    # pure function of the id: re-evaluation yields the identical mapping
    b = hash_split(docs).select("doc_id", "split")
    assert a.exceptAll(b).count() == 0


def test_session_agg_matches_sessionize(tables):
    from pyspark.sql import functions as F

    from tidier_spark.operators.temporal import session_agg, sessionize

    ev = tables["events"]
    agg = session_agg(ev, "user_id", "ts", gap_seconds=4 * 3600)
    # event-level sessionize grouped per session must produce the same
    # (user, n_events, session_start) triples
    sess = sessionize(ev, "user_id", "ts", 4 * 3600, tiebreak_cols=["event_id"])
    ref = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start_us", "n_events")
    )
    got = agg.select("user_id", "session_start_us", "n_events")
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0


def test_upsert_triad(spark):
    from tidier_spark.operators.merge import upsert

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    updates = spark.createDataFrame(
        [(2, "B", False), (3, None, True), (4, "d", False)],
        "k long, v string, del boolean",
    )
    got = {r["k"]: r["v"] for r in upsert(target, updates, "k", delete_col="del").collect()}
    assert got == {1: "a", 2: "B", 4: "d"}


def test_snapshot_diff_classes(spark):
    from tidier_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long")
    new = spark.createDataFrame([(2, 20), (3, 31), (4, 40)], "k long, v long")
    got = {r["k"]: r["change"] for r in snapshot_diff(old, new, "k").collect()}
    assert got == {1: "delete", 3: "update", 4: "insert"}


def test_profile_table_counts(spark):
    from tidier_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "x"), (None, "y")], "a long, b string"
    )
    got = {r["column"]: r.asDict() for r in profile_table(df).collect()}
    assert got["a"]["n_rows"] == 4 and got["a"]["n_nulls"] == 1
    assert got["a"]["n_distinct"] == 3
    assert got["b"]["n_nulls"] == 1 and got["b"]["n_distinct"] == 2


def test_slice_prop_group_fraction(tables):
    from pyspark.sql import functions as F

    from tidier_spark.verbs import slice_max

    li = tables["lineitem"]
    order = F.struct(
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        F.col("l_orderkey"), F.col("l_linenumber"), F.col("l_suppkey"),
    )
    top = slice_max(li, order, by="l_returnflag", with_ties=False, prop=0.1)
    sizes = {r["l_returnflag"]: r["count"]
             for r in li.groupBy("l_returnflag").count().collect()}
    got = {r["l_returnflag"]: r["count"]
           for r in top.groupBy("l_returnflag").count().collect()}
    import math
    for flag, n in sizes.items():
        assert got[flag] == math.floor(0.1 * n)


def test_slice_prop_refined_equals_plain(tables):
    # the sketch-cut-then-rank plan must return EXACTLY the plain
    # window-rank result (the margin proof in _slice_prop_refined)
    from pyspark.sql import functions as F

    from tidier_spark.verbs import slice_max

    li = tables["lineitem"]
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    order = F.struct(
        price_c.alias("p"),
        F.col("l_orderkey"), F.col("l_linenumber"), F.col("l_suppkey"),
    )
    key = ["l_returnflag", "l_orderkey", "l_linenumber"]
    plain = {
        tuple(r[c] for c in key)
        for r in slice_max(
            li, order, by="l_returnflag", with_ties=False, prop=0.05
        ).collect()
    }
    refined = {
        tuple(r[c] for c in key)
        for r in slice_max(
            li, order, by="l_returnflag", with_ties=False, prop=0.05,
            approx_prefilter=price_c,
        ).collect()
    }
    assert refined == plain


def test_stream_session_agg_equals_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from tidier_spark.operators.temporal import session_agg
    from tidier_spark.sources import read_stream_table, read_table
    from tidier_spark.streaming import run_stream, stream_session_agg

    ev = read_table(spark, sf_dir, "events")
    batch = session_agg(ev, "user_id", "ts", gap_seconds=4 * 3600)
    streamed = run_stream(
        stream_session_agg(
            read_stream_table(spark, sf_dir, "events"),
            key_col="user_id", time_col="ts", gap_seconds=4 * 3600,
        ),
        name="t_stream_sessions_parity",
        output_mode="complete",
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stream_interval_join_equals_batch(spark, sf_dir):
    # the watermarked stream-stream interval join, replayed through the
    # streaming engine, must emit exactly the batch join's rows
    from pyspark.sql import functions as F

    from tidier_spark.sources import read_stream_table, read_table
    from tidier_spark.streaming import run_stream, stream_interval_join

    def legs(ev):
        views = ev.where(F.col("event_type") == "view").select(
            "user_id", F.col("event_id").alias("vid"), "ts"
        )
        buys = ev.where(F.col("event_type") == "purchase").select(
            "user_id", F.col("event_id").alias("bid"), "ts"
        )
        return views, buys

    kw = dict(left_ts="ts", right_ts="ts", lower="0 seconds", upper="2 hours")
    batch = stream_interval_join(
        *legs(read_table(spark, sf_dir, "events")), "user_id", **kw
    )
    streamed = run_stream(
        stream_interval_join(
            *legs(read_stream_table(spark, sf_dir, "events")),
            "user_id",
            watermark="30 minutes",
            **kw,
        ),
        name="t_stream_ij_parity",
        output_mode="append",
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
    assert batch.count() > 0


def test_stream_merge_parquet_equals_batch_latest_wins(spark, sf_dir, tmp_path):
    # foreachBatch MERGE sink: replaying the events stream in bounded
    # micro-batches and upserting each into the versioned parquet table
    # must end at exactly the batch latest-row-per-user result
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tidier_spark.sources import read_stream_table, read_table
    from tidier_spark.streaming import stream_merge_parquet

    cols = ["user_id", "event_id", "ts", "value"]
    final = stream_merge_parquet(
        read_stream_table(spark, sf_dir, "events").select(*cols),
        str(tmp_path / "merged"),
        keys="user_id",
        order_cols=["ts", "event_id"],
        name="t_stream_merge",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    batch = (
        read_table(spark, sf_dir, "events")
        .select(*cols)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    assert final.exceptAll(batch).count() == 0
    assert batch.exceptAll(final).count() == 0
    assert final.count() == batch.count() > 0


def test_stream_merge_multi_batch_out_of_order(spark, tmp_path):
    # CDC regression: a LATER micro-batch carrying an OLDER row for a key
    # must NOT overwrite the snapshot's newer row — the merge is ordered
    # by order_cols across batches, not by arrival.  Files are fed one
    # per trigger (maxFilesPerTrigger=1) with forced mtimes so the
    # out-of-order file definitely arrives in a second micro-batch.
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tidier_spark.streaming import stream_merge_parquet

    src = tmp_path / "src"
    src.mkdir()
    # batch 1: the NEWER rows (ts=100); batch 2: late-arriving OLDER rows
    t1 = pa.table(
        {"user_id": [1, 2], "event_id": [11, 21], "ts": [100, 100], "value": [1.0, 2.0]}
    )
    t2 = pa.table(
        {"user_id": [1, 3], "event_id": [10, 30], "ts": [50, 200], "value": [9.0, 3.0]}
    )
    pq.write_table(t1, src / "b1.parquet")
    pq.write_table(t2, src / "b2.parquet")
    now = _time.time()
    _os.utime(src / "b1.parquet", (now - 60, now - 60))
    _os.utime(src / "b2.parquet", (now, now))

    stream = (
        spark.readStream.schema("user_id long, event_id long, ts long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    table_path = str(tmp_path / "merged_ooo")
    final = stream_merge_parquet(
        stream,
        table_path,
        keys="user_id",
        order_cols=["ts", "event_id"],
        name="t_stream_merge_ooo",
    )
    got = {r["user_id"]: (r["ts"], r["value"]) for r in final.collect()}
    # key 1: the later batch's ts=50 row must lose to the snapshot's ts=100
    assert got == {1: (100, 1.0), 2: (100, 2.0), 3: (200, 3.0)}
    # the replay really was multi-batch (two committed snapshot versions)
    committed = [
        d for d in _os.listdir(table_path)
        if d.startswith("v=") and _os.path.isfile(_os.path.join(table_path, d, "_SUCCESS"))
    ]
    assert len(committed) >= 2
    # a partial (crashed-write) version without _SUCCESS is never read
    from tidier_spark.streaming.sink import read_merged

    fake = _os.path.join(table_path, "v=99")
    _os.makedirs(fake)
    with open(_os.path.join(fake, "part-junk.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    again = {r["user_id"]: (r["ts"], r["value"]) for r in read_merged(spark, table_path).collect()}
    assert again == got


def test_fuzzy_self_join_distance1_complete(spark):
    # deletion-neighborhood candidates must find EVERY pair at edit
    # distance <= 1 — substitution, insertion/deletion, repeated-char
    # runs — and nothing farther
    from itertools import combinations

    from tidier_spark.operators.fuzzy import fuzzy_self_join

    names = ["abcd", "abxd", "abd", "abcde", "zzzz", "abce", "aabcd"]
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "id long, s string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_self_join(df, "id", "s").collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    want = {
        (i, j): lev(names[i], names[j])
        for i, j in combinations(range(len(names)), 2)
        if lev(names[i], names[j]) <= 1
    }
    assert got == want


def test_validate_reports_exact_violation_counts(spark):
    from tidier_spark.operators.expectations import validate

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 50.0), (2, None, -1.0), (None, "zz", 7.0)],
        "id long, tag string, v double",
    )
    got = {
        (r["column"], r["rule"]): (r["n_violations"], r["ok"])
        for r in validate(
            df,
            {
                "id": [("not_null",), ("unique",)],
                "tag": [("in_set", "a", "b"), ("matches", "^[a-z]$")],
                "v": [("between", 0, 10)],
            },
        ).collect()
    }
    assert got[("id", "not_null")] == (1, False)
    assert got[("id", "unique")] == (1, False)  # two id=2 rows
    assert got[("tag", "in_set")] == (1, False)  # 'zz'; NULL passes
    assert got[("tag", "matches")] == (1, False)
    assert got[("v", "between_0_10")] == (2, False)  # 50.0 and -1.0


def test_fk_orphans_null_fk_and_parent_key_mapping(spark):
    from tidier_spark.operators.expectations import fk_orphans

    child = spark.createDataFrame(
        [(1, "x"), (1, "y"), (3, "z"), (None, "n"), (9, "q")],
        "uid long, payload string",
    )
    parent = spark.createDataFrame(
        [(1,), (2,), (None,)], "pid long"
    )
    got = {
        (r["uid"], r["n_rows"])
        for r in fk_orphans(child, parent, "uid", parent_keys="pid").collect()
    }
    # uid=1 has a parent; NULL FK is never an orphan; 3 and 9 dangle
    assert got == {(3, 1), (9, 1)}


def test_fk_orphans_matches_duckdb_mirror(tables, sf_dir):
    import duckdb

    from pyspark.sql import functions as F

    from tidier_spark.operators.expectations import fk_orphans, fk_orphans_sql

    ev, cust = tables["events"], tables["customer"]
    got = sorted(
        (r["user_id"], r["n_rows"])
        for r in fk_orphans(
            ev, cust.where(F.col("c_acctbal") >= 0), "user_id",
            parent_keys="c_custkey",
        ).collect()
    )
    con = duckdb.connect()
    for t in ("events", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    want = [
        (int(a), int(b))
        for a, b in con.execute(
            fk_orphans_sql(
                "events", "customer", "user_id",
                parent_keys="c_custkey", parent_where="c_acctbal >= 0",
            )
        ).fetchall()
    ]
    con.close()
    assert got == want and len(got) > 0


def test_upsert_duplicate_key_input_repairs_invariant(spark):
    # the dupids-axis contract (docs/EDGE_SWEEP.md): on duplicate-key
    # input, upsert emits EXACTLY one row per key, and the winner is a
    # valid candidate — greatest order tuple, update side on exact tie
    from tidier_spark.operators.merge import upsert

    target = spark.createDataFrame(
        [(1, 10, "t_old"), (1, 20, "t_new"), (2, 5, "t_only")],
        "k long, ver long, who string",
    )
    updates = spark.createDataFrame(
        [(1, 20, "u_tie"), (3, 1, "u_ins"), (3, 2, "u_ins2")],
        "k long, ver long, who string",
    )
    got = {
        r["k"]: (r["ver"], r["who"])
        for r in upsert(target, updates, "k", order_cols=["ver"]).collect()
    }
    # one row per key; k=1: ver-20 tie -> update side wins over t_new;
    # k=3: two update rows -> greatest ver wins deterministically
    assert got == {1: (20, "u_tie"), 2: (5, "t_only"), 3: (2, "u_ins2")}


def test_update_rollup_equals_full_recompute(tables):
    # folding history + delta (and delta split into two steps) must equal
    # the one-shot aggregate exactly
    from pyspark.sql import functions as F

    from tidier_spark.operators.merge import update_rollup

    ev = tables["events"].select(
        "user_id", "event_id", F.round(F.col("value") * 100).cast("long").alias("vc")
    )
    measures = {
        "n": ("count", "event_id"),
        "s": ("sum", "vc"),
        "mn": ("min", "vc"),
        "mx": ("max", "vc"),
    }
    full = update_rollup(None, ev, "user_id", measures)
    three_step = update_rollup(
        update_rollup(
            update_rollup(None, ev.where(F.col("event_id") % 3 == 0), "user_id", measures),
            ev.where(F.col("event_id") % 3 == 1),
            "user_id",
            measures,
        ),
        ev.where(F.col("event_id") % 3 == 2),
        "user_id",
        measures,
    )
    assert three_step.exceptAll(full).count() == 0
    assert full.exceptAll(three_step).count() == 0
    assert full.count() > 0


def test_unigram_surprisal_orders_rarity(spark):
    # common-token docs must score fewer bits/token than rare-token docs;
    # a tokenless doc keeps n_tokens=0 and NULL bits_per_token
    from tidier_spark.operators.text import unigram_surprisal

    rows = [(1, "the the the the"), (2, "the zyx the qwv"), (3, "...")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in unigram_surprisal(df).collect()}
    assert got[3]["n_tokens"] == 0 and got[3]["bits_per_token"] is None
    assert got[1]["bits_per_token"] < got[2]["bits_per_token"]
    # exact integer check: total=10 tokens (bitlen 4); 'the' freq 6
    # (bitlen 3) → 1 bit; zyx/qwv freq 1 (bitlen 1) → 3 bits
    assert got[1]["surprisal_bits"] == 4 * 1
    assert got[2]["surprisal_bits"] == 2 * 1 + 2 * 3


def test_stream_dedup_against_equals_batch(spark, sf_dir, tmp_path):
    # streaming incremental dedup vs a STATIC reference corpus must equal
    # the batch anti-join regardless of micro-batching: the new side is
    # written as 3 files and replayed one file per trigger
    from pyspark.sql import functions as F

    from tidier_spark.operators.dedup import dedup_against
    from tidier_spark.sources import read_table
    from tidier_spark.streaming import stream_dedup_against

    docs = read_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 2 == 1)
    ref = docs.where(F.col("doc_id") % 2 == 0)
    src = str(tmp_path / "new_src")
    new.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    surv = stream_dedup_against(
        stream, ref, str(tmp_path / "sda"), threshold=0.3,
        name="t_stream_dedup_against",
    )
    matches = dedup_against(new, ref, threshold=0.3)
    expected = new.join(matches.select("doc_id"), "doc_id", "left_anti")
    got_ids = {r["doc_id"] for r in surv.select("doc_id").collect()}
    want_ids = {r["doc_id"] for r in expected.select("doc_id").collect()}
    assert got_ids == want_ids
    assert 0 < len(want_ids) < new.count() or len(want_ids) == new.count()


def test_semantic_dedup_single_cluster_equals_exact(tables):
    # with n_clusters=1 the bucketed SemDeDup path must reproduce the
    # exact all-pairs operator bit for bit (same rounding, same contract)
    from tidier_spark.operators.dedup import (
        embedding_near_dup,
        semantic_dedup_pairs,
    )

    emb = tables["embeddings"]
    exact = embedding_near_dup(emb, threshold=0.4)
    sem = semantic_dedup_pairs(emb, threshold=0.4, n_clusters=1)
    assert sem.exceptAll(exact).count() == 0
    assert exact.exceptAll(sem).count() == 0


def test_semantic_dedup_bucketed_subset(tables):
    # bucketed pairs are a SUBSET of exact pairs (no false positives:
    # within-cluster cosine is the same exact computation).  Recall is
    # threshold-dependent: the fixture's max pair cosine is ~0.51, so a
    # 0.4 cut selects pairs that are NOT tight near-dups and legitimately
    # straddle clusters — the n_clusters=1 differential above is the
    # exactness proof; here we assert containment + nonzero detection.
    from tidier_spark.operators.dedup import (
        embedding_near_dup,
        semantic_dedup_pairs,
    )

    emb = tables["embeddings"]
    exact = embedding_near_dup(emb, threshold=0.4)
    sem = semantic_dedup_pairs(emb, threshold=0.4, n_clusters=8)
    assert sem.exceptAll(exact).count() == 0
    n_exact, n_sem = exact.count(), sem.count()
    assert n_exact > 0 and n_sem > 0


def test_scrub_pii_patterns(spark):
    from tidier_spark.operators.pii import scrub_pii

    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-corp.io and 555-123-4567 at 192.168.0.1 twice a.b+c@x-corp.io"),
         (2, "clean text no pii")],
        "id long, text string",
    )
    got = {r["id"]: r.asDict() for r in scrub_pii(df).collect()}
    assert got[1]["n_email"] == 2 and got[1]["n_phone"] == 1 and got[1]["n_ipv4"] == 1
    assert got[1]["text_scrubbed"] == "mail <EMAIL> and <PHONE> at <IP> twice <EMAIL>"
    assert got[2]["n_email"] == 0 and got[2]["text_scrubbed"] == "clean text no pii"


def test_histogram_bins_and_spine(spark):
    from tidier_spark.operators.profile import histogram

    df = spark.createDataFrame(
        [(0.5,), (1.5,), (1.7,), (9.99,), (12.0,), (-3.0,), (None,)],
        "v double",
    )
    got = {r["bin"]: r for r in histogram(df, "v", 0.0, 10.0, 5).collect()}
    assert len(got) == 5                       # empty bins present (n=0)
    # step 2.0: bin0 = {0.5, 1.5, 1.7, -3.0 clamped}; bin4 = {9.99,
    # 12.0 clamped}; NULL excluded
    assert got[0]["n"] == 4
    assert got[4]["n"] == 2
    assert got[1]["n"] == 0 and got[2]["n"] == 0 and got[3]["n"] == 0
    assert sum(r["n"] for r in got.values()) == 6
    assert got[0]["lo_edge"] == 0.0 and got[0]["hi_edge"] == 2.0


def test_deterministic_sample_exact_and_stable(tables):
    from tidier_spark.operators.corpus import deterministic_sample

    docs = tables["documents"]
    s1 = deterministic_sample(docs, 5, by="lang")
    sizes = {r["lang"]: r["count"] for r in s1.groupBy("lang").count().collect()}
    group_sizes = {r["lang"]: r["count"]
                   for r in docs.groupBy("lang").count().collect()}
    for lang, n in group_sizes.items():
        assert sizes[lang] == min(5, n)
    # pure function of ids: identical selection on re-evaluation
    s2 = deterministic_sample(docs, 5, by="lang")
    assert s1.exceptAll(s2).count() == 0
    # different salt draws a different set
    s3 = deterministic_sample(docs, 5, by="lang", salt="other")
    assert s3.select("doc_id").exceptAll(s1.select("doc_id")).count() > 0


# --- chunking / sampling / shuffling / cross-corpus dedup ------------------


def test_chunk_documents_schedule(spark):
    from tidier_spark.operators.corpus import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks: chunks @1,5,9
            (2, "a b c"),  # shorter than chunk -> one short chunk
            (3, ""),  # token-free -> no chunks
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.chunk_len)
        for r in chunk_documents(
            docs, chunk_tokens=4, stride=4
        ).collect()
    }
    assert rows[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert rows[(1, 1)] == ("t4 t5 t6 t7", 4)
    assert rows[(1, 2)] == ("t8 t9", 2)  # final short chunk kept
    assert rows[(2, 0)] == ("a b c", 3)
    assert not any(d == 3 for d, _ in rows)
    # overlapping stride: 10 tokens, chunk 4, stride 2 -> starts 1,3,5,7,9
    n = chunk_documents(docs.where("doc_id = 1"), chunk_tokens=4, stride=2).count()
    assert n == 4  # ceil((10-4)/2)+1

def test_weighted_sample_bias_and_determinism(spark):
    from tidier_spark.operators.corpus import weighted_sample

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit("g").alias("g"),
        # doc 0..9 get overwhelming weight; the rest weight 1
        F.when(F.col("id") < 10, F.lit(1 << 40)).otherwise(F.lit(1)).alias("w"),
    )
    picked = {
        r.doc_id
        for r in weighted_sample(df, 10, weight_col="w", by="g").collect()
    }
    # priority = hash60 div w: weight 2^40 shrinks priorities ~2^40x, so the
    # heavy ids dominate the smallest-priority slots
    assert picked == set(range(10))
    again = {
        r.doc_id
        for r in weighted_sample(df, 10, weight_col="w", by="g").collect()
    }
    assert picked == again  # pure function of (id, salt, weight)


def test_shuffle_rows_is_permutation(tables):
    from tidier_spark.operators.corpus import shuffle_rows

    docs = tables["documents"]
    n = docs.count()
    out = shuffle_rows(docs).select("doc_id", "shuffle_pos").collect()
    assert sorted(r.shuffle_pos for r in out) == list(range(1, n + 1))
    # deterministic across invocations, different under another salt
    a = {r.doc_id: r.shuffle_pos for r in out}
    b = {
        r.doc_id: r.shuffle_pos
        for r in shuffle_rows(docs).select("doc_id", "shuffle_pos").collect()
    }
    assert a == b
    c = {
        r.doc_id: r.shuffle_pos
        for r in shuffle_rows(docs, salt="other")
        .select("doc_id", "shuffle_pos")
        .collect()
    }
    assert a != c


def test_string_key_literal_matches_column_projection(spark):
    """string_key_literal (Python) and _bucket_order_key's string branch
    (Column) must project identically — static split literals derived
    through the former are compared against the latter at runtime, and
    any divergence silently re-introduces the ADVICE-r7 skew."""
    from pyspark.sql import functions as F

    from tidier_spark.window import _bucket_order_key, string_key_literal

    vals = [
        "", "0", "8", "f", "deadbeefcafe", "0" * 32, "f" * 32,
        "8000000000000000" + "0" * 16, "user_000123", "https://ex.com/a",
        "héllo-unicode", "ééé", "zzzzzzzzzzzzzzzzzz",
    ]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {
        r.s: r.k
        for r in df.select("s", _bucket_order_key(df, "s").alias("k")).collect()
    }
    for v in vals:
        assert got[v] == string_key_literal(v), (v, got[v], string_key_literal(v))


def test_shuffle_rows_static_splits_balance(spark):
    """The static split literals must live in the PROJECTED string domain:
    raw uniform cuts of [0, 16^15) put all md5 keys in 1-3 of n buckets
    (ADVICE r7 — the ASCII-hex bytes only occupy 0x30-0x39/0x61-0x66),
    silently degrading the permutation to the single-task prefix window.
    Pin: for n=8, every bucket receives rows and the spread is bounded.
    Exercises the REAL projection + bucket-id code path, not a mirror."""
    import hashlib

    from pyspark.sql import functions as F

    from tidier_spark.window import (
        _bucket_order_key,
        _det_bucket_id,
        string_key_literal,
    )

    n = 8
    splits = sorted(
        {string_key_literal("%032x" % ((i + 1) * 16**32 // n)) for i in range(n - 1)}
    )
    assert len(splits) == n - 1  # distinct boundaries in the projected domain
    ids = [(f"doc{i}",) for i in range(2000)]
    df = spark.createDataFrame(ids, ["doc_id"]).withColumn(
        "__k", F.md5(F.concat_ws(":", F.col("doc_id"), F.lit("shuffle")))
    )
    key = _bucket_order_key(df, "__k")
    pid = _det_bucket_id(df, key, n, desc=False, null_last=False, splits=splits)
    counts = {
        r.p: r.c
        for r in df.select(pid.alias("p")).groupBy("p").count()
        .withColumnRenamed("count", "c").collect()
    }
    assert set(counts) == set(range(n)), counts
    assert max(counts.values()) < 2 * (2000 / n), counts


def test_dedup_against_cross_side_only(spark):
    from tidier_spark.operators.dedup import dedup_against

    base = "the quick brown fox jumps over the lazy dog again and again"
    new = spark.createDataFrame(
        [(1, base), (3, "completely different words entirely unrelated text here")],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        # 0 is an exact dup of new doc 1; 2 is unrelated; 4 dups new doc 3's
        # unrelated text (so both new docs have exactly one match)
        [(0, base), (2, "nothing shared with anything at all whatsoever"),
         (4, "completely different words entirely unrelated text here")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.ref_id, r.jaccard) for r in dedup_against(new, ref).collect()}
    assert out[1][0] == 0 and out[1][1] == 1.0
    assert out[3][0] == 4 and out[3][1] == 1.0


# --- real PPM codec pipeline ----------------------------------------------


def test_ppm_roundtrip_and_registry(spark):
    import numpy as np

    from tidier_spark.operators import multimodal as M

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(12, 9, 3), dtype=np.uint8)
    payload = M.encode_ppm(px)
    assert (M.decode_ppm_pixels(payload) == px).all()
    assert M.ppm_decoder(payload) == (9, 12, 0)
    # comment lines in the header are honored
    with_comment = payload.replace(b"P6\n", b"P6\n# a comment\n", 1)
    assert (M.decode_ppm_pixels(with_comment) == px).all()
    # the registry carries a REAL decoder for image/ppm out of the box
    assert M._DECODERS["image/ppm"] is M.ppm_decoder


def test_image_stats_and_thumbnails(spark):
    import numpy as np

    from tidier_spark.operators import multimodal as M

    def gradient(i):
        # deterministic per-image gradient: channel c = (x + y*3 + i + c) % 256
        y, x = np.mgrid[0:20, 0:30]
        return np.stack(
            [(x + 3 * y + i + c) % 256 for c in range(3)], axis=-1
        ).astype(np.uint8)

    imgs = [(i, M.encode_ppm(gradient(i))) for i in range(8)]
    df = spark.createDataFrame(imgs, "media_id long, payload binary")

    stats = {r.media_id: r for r in M.image_stats(df).collect()}
    for i in range(8):
        px = gradient(i)
        expect = px.reshape(-1, 3).sum(axis=0, dtype=np.int64) / (20 * 30)
        assert stats[i].width == 30 and stats[i].height == 20
        assert (stats[i].mean_r, stats[i].mean_g, stats[i].mean_b) == tuple(expect)

    thumbs = {r.media_id: r for r in M.image_thumbnails(df, 6, 4).collect()}
    for i in range(8):
        px = gradient(i)
        yi = (np.arange(4) * 20) // 4
        xi = (np.arange(6) * 30) // 6
        expect = px[yi][:, xi]
        got = M.decode_ppm_pixels(bytes(thumbs[i].thumb))
        assert got.shape == (4, 6, 3)
        assert (got == expect).all()


def test_chunk_documents_invariants(tables):
    """Every token is covered when stride <= chunk; chunk ids are dense;
    all chunks except possibly the last per doc are full-width."""
    from tidier_spark.operators.corpus import chunk_documents
    from tidier_spark.operators.text import token_count

    docs = tables["documents"]
    chunks = chunk_documents(docs, chunk_tokens=16, stride=12)
    per_doc = (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.max("chunk_id").alias("max_id"),
            F.min("chunk_len").alias("min_len"),
            F.max("chunk_len").alias("max_len"),
        )
        .join(docs.select("doc_id", token_count("text").alias("n_toks")), "doc_id")
        .collect()
    )
    for r in per_doc:
        assert r.max_id == r.n_chunks - 1  # dense 0..n-1
        assert r.max_len <= 16
        # stride 12 + chunk 16: last chunk start = 1 + 12*(n-1) and must
        # reach the final token
        assert 12 * (r.n_chunks - 1) + r.max_len >= r.n_toks or r.n_chunks == 1
        if r.n_chunks > 1:
            assert r.min_len > 0


def test_weighted_sample_counts_per_group(tables):
    from tidier_spark.operators.corpus import weighted_sample

    docs = tables["documents"].withColumn("w", F.expr("n_chars div 100 + 1"))
    out = weighted_sample(docs, 7, weight_col="w", by="lang")
    sizes = {r.lang: r.n for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    full = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in full.items():
        assert sizes.get(lang, 0) == min(7, n)


def test_cohort_retention_offset_zero_is_cohort_size(tables):
    """The offset-0 cell counts every user of the cohort (each user is
    active in their own first period by construction)."""
    from tidier_spark.operators.temporal import cohort_retention

    ev = tables["events"]
    tri = cohort_retention(ev, "user_id", "ts", period="day")
    zero = {r.cohort_us: r.n_users for r in tri.where("period_offset = 0").collect()}
    first = (
        ev.groupBy("user_id")
        .agg(F.unix_micros(F.date_trunc("day", F.min("ts"))).alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert zero == {r.c: r.n for r in first}
    # retention never exceeds the cohort size
    for r in tri.collect():
        assert r.n_users <= zero[r.cohort_us]


def test_wav_roundtrip_and_audio_stats(spark):
    import math

    import numpy as np

    from tidier_spark.operators import multimodal as M

    rng = np.random.default_rng(11)
    clips = []
    expect = {}
    for i in range(5):
        n = 1600 * (i + 1)  # 0.1s..0.5s at 16kHz
        s = rng.integers(-20000, 20000, size=n, dtype=np.int16)
        clips.append((i, M.encode_wav(s, 16_000)))
        expect[i] = (
            n,
            int(n * 1000 // 16_000),
            int(np.abs(s.astype(np.int32)).max()),
            math.sqrt(int((s.astype(np.int64) ** 2).sum()) / n),
        )
    # registry decoder reports duration
    assert M.wav_decoder(clips[2][1]) == (0, 0, expect[2][1])

    df = spark.createDataFrame(clips, "media_id long, payload binary")
    out = {r.media_id: r for r in M.audio_stats(df).collect()}
    for i, (n, dur, peak, rms) in expect.items():
        r = out[i]
        assert (r.n_samples, r.duration_ms, r.peak) == (n, dur, peak)
        assert r.rms == rms
        assert r.sample_rate == 16_000


def test_frame_sample_ppm_stream(spark):
    import numpy as np

    from tidier_spark.operators import multimodal as M

    def frame(i):
        return np.full((4, 6, 3), i, dtype=np.uint8)

    video = b"".join(M.encode_ppm(frame(i)) for i in range(12))
    df = spark.createDataFrame([(9, video)], "media_id long, payload binary")
    rows = sorted(
        M.frame_sample(df, every=5).collect(), key=lambda r: r.frame_no
    )
    assert [r.frame_no for r in rows] == [0, 5, 10]
    for r in rows:
        px = M.decode_ppm_pixels(bytes(r.frame))
        assert (px == r.frame_no).all()
        assert (r.width, r.height) == (6, 4)


def test_hashed_features_totals_and_range(tables):
    from tidier_spark.operators.quality import hashed_features
    from tidier_spark.operators.text import token_count

    docs = tables["documents"]
    hf = hashed_features(docs, dim=32)
    # bucket counts conserve the token total per doc, buckets in range
    sums = (
        hf.groupBy("doc_id").agg(F.sum("n").alias("tot"))
        .join(docs.select("doc_id", token_count("text").alias("n_toks")), "doc_id")
        .collect()
    )
    assert sums and all(r.tot == r.n_toks for r in sums)
    rng = hf.agg(F.min("bucket"), F.max("bucket")).collect()[0]
    assert rng[0] >= 0 and rng[1] < 32


def test_remove_repeated_spans_invariants(tables):
    from tidier_spark.operators.corpus import remove_repeated_spans
    from tidier_spark.operators.text import tokens

    docs = tables["documents"]
    out = remove_repeated_spans(docs, span_tokens=3, min_docs=3)
    rows = out.collect()
    assert len(rows) == docs.count()  # every doc survives as a row
    assert all(0 <= r.n_kept <= r.n_spans for r in rows)
    assert any(r.n_kept < r.n_spans for r in rows)  # non-trivial removal
    # clean_text token count == 3 * full kept spans (+ short tail span)
    for r in rows:
        n_toks = len(r.clean_text.split()) if r.clean_text else 0
        assert n_toks <= 3 * r.n_kept

    # min_docs beyond corpus size removes nothing: clean_text is the
    # token-normalized original in order
    noop = remove_repeated_spans(docs, span_tokens=3, min_docs=10**6)
    orig = docs.select("doc_id", F.concat_ws(" ", tokens("text")).alias("norm"))
    diff = (
        noop.join(orig, "doc_id")
        .where((F.col("clean_text") != F.col("norm")) | (F.col("n_kept") != F.col("n_spans")))
        .count()
    )
    assert diff == 0


def test_classifier_score_additive_and_empty(spark):
    from tidier_spark.operators.quality import classifier_score

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "alpha beta gamma"), (4, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in classifier_score(df).collect()}
    # bag-of-words additivity: score(doc3) = score(doc1) + score(doc2)
    assert got[3].score_milli == got[1].score_milli + got[2].score_milli
    assert got[4].score_milli == 0 and got[4].label is False
    assert all(g.label == (g.score_milli > 0) for g in got.values())


def test_quantile_prune_exact_and_approx(tables):
    from tidier_spark.operators.quality import quantile_prune
    from tidier_spark.operators.text import analyze_documents

    a = analyze_documents(tables["documents"]).select(
        "doc_id", "lang_pred", "quality"
    )
    # keep=tiles returns everything, tiles balanced within 1 per group
    full = quantile_prune(a, "quality", by="lang_pred", tiles=4, keep=4,
                          tiebreak="doc_id")
    assert full.count() == a.count()
    sizes = (
        full.groupBy("lang_pred", "tile").count()
        .groupBy("lang_pred")
        .agg((F.max("count") - F.min("count")).alias("spread"))
        .collect()
    )
    assert all(r.spread <= 1 for r in sizes)

    # approx path: subset of input, keeps every group's max row, tile NULL
    approx = quantile_prune(a, "quality", by="lang_pred", tiles=4, keep=1,
                            exact=False)
    assert approx.count() <= a.count()
    tops = (
        a.groupBy("lang_pred").agg(F.max("quality").alias("quality"))
        .join(approx, ["lang_pred", "quality"], "left_anti")
        .count()
    )
    assert tops == 0
    assert all(r.tile is None for r in approx.select("tile").limit(5).collect())


def test_bpe_train_hand_example(spark):
    from tidier_spark.operators.bpe import bpe_apply, bpe_train

    # corpus: "aaab aaab ab" -> vocab {aaab:2, ab:1}
    # round 1 pairs: (a,a): 2*2=4  (a,b): 2+1=3  -> merge (a,a)->aa
    #   aaab -> [aa, a, b], ab -> [a, b]
    # round 2 pairs: (aa,a):2 (a,b):2+1=3 -> merge (a,b)->ab
    df = spark.createDataFrame([(1, "aaab aaab ab")], "doc_id long, text string")
    m = bpe_train(df, n_merges=2).collect()
    assert [(r.rank, r.left_sym, r.right_sym, r.pair_n) for r in m] == [
        (1, "a", "a", 4),
        (2, "a", "b", 3),
    ]
    # apply: aaab -> [aa, ab] (greedy: aa first, then ab), ab -> [ab]
    got = {r.doc_id: r.n_subwords for r in bpe_apply(df, [("a", "a"), ("a", "b")]).collect()}
    assert got[1] == 2 + 2 + 1


def test_bpe_apply_no_merges_is_char_count(tables):
    from tidier_spark.operators.bpe import bpe_apply
    from tidier_spark.operators.text import tokens

    docs = tables["documents"].limit(50)
    zero = bpe_apply(docs, [])
    chars = docs.select(
        "doc_id",
        F.aggregate(
            tokens("text"), F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        ).alias("n_chars_tok"),
    )
    diff = (
        zero.join(chars, "doc_id")
        .where(F.col("n_subwords") != F.col("n_chars_tok"))
        .count()
    )
    assert diff == 0


def test_bpe_merges_reduce_subword_count(tables):
    from tidier_spark.operators.bpe import bpe_apply, bpe_train

    docs = tables["documents"]
    merges = [(r.left_sym, r.right_sym) for r in bpe_train(docs, n_merges=3).collect()]
    assert len(merges) == 3
    with_m = bpe_apply(docs, merges).agg(F.sum("n_subwords")).collect()[0][0]
    without = bpe_apply(docs, []).agg(F.sum("n_subwords")).collect()[0][0]
    assert with_m < without  # merges strictly shrink the token stream


def test_budget_mix_shares_and_determinism(tables):
    from tidier_spark.operators.corpus import budget_mix
    from tidier_spark.operators.text import token_count

    docs = tables["documents"].withColumn("n_tokens", token_count("text"))
    weights = {f"src{i}": 1 + i % 3 for i in range(20)}
    kept = budget_mix(docs, budget_tokens=15000, weights=weights)
    # deterministic: same call, same rows
    ids1 = {r.doc_id for r in kept.collect()}
    ids2 = {r.doc_id for r in budget_mix(docs, 15000, weights).collect()}
    assert ids1 == ids2 and ids1
    # kept token mass lands near each source's weighted share of budget
    got = (
        kept.join(docs.select("doc_id", "n_tokens"), "doc_id")
        .groupBy("source").agg(F.sum("n_tokens").alias("tok"))
        .collect()
    )
    total_w = sum(weights.values())
    for r in got:
        target = 15000 * weights[r.source] // total_w
        assert r.tok <= 2.0 * target + 200  # hash-Bernoulli slack at n=25
    # unknown sources are dropped
    w2 = {k: v for k, v in weights.items() if k != "src0"}
    assert budget_mix(docs, 15000, w2).where(F.col("source") == "src0").count() == 0


def test_excise_duplicate_regions_invariants(spark, tables):
    from tidier_spark.operators.dedup import excise_duplicate_regions
    from tidier_spark.operators.text import tokens

    docs = tables["documents"]
    out = excise_duplicate_regions(docs, gram_tokens=5, min_count=2)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(0 <= r.n_covered <= r.n_tokens for r in rows)
    assert any(r.n_covered > 0 for r in rows)  # non-trivial masking
    for r in rows:
        n_kept = len(r.clean_text.split()) if r.clean_text else 0
        assert n_kept == r.n_tokens - r.n_covered

    # min_count beyond corpus size masks nothing
    noop = excise_duplicate_regions(docs, gram_tokens=5, min_count=10**9)
    orig = docs.select("doc_id", F.concat_ws(" ", tokens("text")).alias("norm"))
    bad = (
        noop.join(orig, "doc_id")
        .where((F.col("n_covered") != 0) | (F.col("clean_text") != F.col("norm")))
        .count()
    )
    assert bad == 0

    # hand case: a 5-gram repeated across two docs is excised from both,
    # the unique tails survive
    df = spark.createDataFrame(
        [(1, "p q r s t aaa"), (2, "p q r s t bbb"), (3, "x y z w v")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in excise_duplicate_regions(df, gram_tokens=5, min_count=2).collect()
    }
    assert got[1].clean_text == "aaa" and got[1].n_covered == 5
    assert got[2].clean_text == "bbb"
    assert got[3].n_covered == 0 and got[3].clean_text == "x y z w v"


def test_srp_embedding_properties(spark):
    from tidier_spark.operators.quality import srp_embedding

    df = spark.createDataFrame(
        [(1, "red blue green"), (2, "red blue green"), (3, "xx yy zz ww"), (4, "")],
        "doc_id long, text string",
    )
    rows = srp_embedding(df, dim=8).collect()
    vec = {}
    for r in rows:
        vec.setdefault(r.doc_id, {})[r.dim] = r.value
    assert all(len(v) == 8 for v in vec.values())
    assert vec[1] == vec[2]          # same text -> identical vector
    assert vec[1] != vec[3]          # different token profile -> different
    assert all(v == 0 for v in vec[4].values())  # empty doc -> zero vector
    # each component is a sum of n_tokens signs: |value| <= n_tokens, parity matches
    for d, n in [(1, 3), (3, 4)]:
        assert all(abs(v) <= n and (v - n) % 2 == 0 for v in vec[d].values())


def test_cms_mergeable_and_never_undercounts(tables, spark):
    from tidier_spark.operators.sketches import cms_build, cms_query
    from tidier_spark.operators.text import tokens

    docs = tables["documents"]
    toks = docs.select(F.col("doc_id"), F.explode(tokens("text")).alias("tok"))
    whole = cms_build(toks, "tok", depth=4, width=64)

    # structural mergeability: per-half sketches sum to the whole sketch
    a = cms_build(toks.where(F.col("doc_id") % 2 == 0), "tok", depth=4, width=64)
    b = cms_build(toks.where(F.col("doc_id") % 2 == 1), "tok", depth=4, width=64)
    merged = (
        a.unionByName(b).groupBy("j", "bucket").agg(F.sum("n").alias("n"))
    )
    diff = (
        whole.alias("w")
        .join(merged.alias("m"), ["j", "bucket"], "full")
        .where(
            F.coalesce(F.col("w.n"), F.lit(0)) != F.coalesce(F.col("m.n"), F.lit(0))
        )
        .count()
    )
    assert diff == 0

    # no-undercount guarantee on every distinct token (width 64 forces
    # heavy collisions — the bound must still hold)
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_n"))
    est = cms_query(whole, exact.select("tok"), "tok", depth=4, width=64)
    under = exact.join(est, "tok").where(F.col("est_n") < F.col("true_n")).count()
    assert under == 0

    # and with a width narrow enough to force collisions, overcounts
    # genuinely occur (the sketch approximates, it is not an exact count
    # in disguise) while the no-undercount bound STILL holds
    tiny = cms_build(toks, "tok", depth=2, width=8)
    est8 = cms_query(tiny, exact.select("tok"), "tok", depth=2, width=8)
    j8 = exact.join(est8, "tok")
    assert j8.where(F.col("est_n") < F.col("true_n")).count() == 0
    assert j8.where(F.col("est_n") > F.col("true_n")).count() > 0


def test_budget_mix_layout_independent(tables):
    # the kept set must be a pure function of (id, salt): any physical
    # layout — partition count, ordering — picks the same rows
    from tidier_spark.operators.corpus import budget_mix
    from tidier_spark.operators.text import token_count

    docs = tables["documents"].withColumn("n_tokens", token_count("text"))
    weights = {f"src{i}": 1 for i in range(20)}
    base = {r.doc_id for r in budget_mix(docs, 12000, weights).collect()}
    shuffled = {
        r.doc_id
        for r in budget_mix(
            docs.repartition(7).sortWithinPartitions(F.desc("doc_id")),
            12000,
            weights,
        ).collect()
    }
    assert base == shuffled and base


def test_bm25_matches_python_reference(tables, sf_dir):
    import math
    import re

    import duckdb

    from tidier_spark.operators.quality import bm25_topk

    query = ["spark", "window", "filter"]
    got = [
        (r["rank"], r["doc_id"], r["score_fp"])
        for r in bm25_topk(tables["documents"], query, k=10).collect()
    ]
    # independent reference: pure-Python BM25 over the same parquet
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    docs = {
        did: [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if t]
        for did, txt in rows
    }
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    dfreq = {
        q: sum(1 for t in docs.values() if q in t) for q in query
    }
    k1, b = 1.2, 0.75
    scores = {}
    for did, toks in docs.items():
        s = 0
        for q in query:
            tf = toks.count(q)
            if not tf:
                continue
            idf = (n - dfreq[q] + 0.5) / (dfreq[q] + 0.5)
            sat = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (len(toks) / avgdl)))
            s += math.floor(1_000_000 * (idf * sat))
        if s:
            scores[did] = s
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got == [(i + 1, did, s) for i, (did, s) in enumerate(want)]


def test_bm25_topk_plan_no_global_sort(tables):
    from tidier_spark.operators.quality import bm25_topk

    plan = (
        bm25_topk(tables["documents"], ["spark", "vector"], k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # orderBy+limit must lower to TakeOrdered, not a full Sort+Exchange
    assert "TakeOrderedAndProject" in plan


def test_pagerank_hand_computed(spark):
    """Fixed-point PageRank on a 3-node directed triangle + 1 dangling
    receiver, checked against an exact hand computation in Python ints
    (same init/base/contribution arithmetic the operator defines)."""
    from tidier_spark.operators.graph import pagerank

    # 1→2, 2→3, 3→1, 1→4 (4 has no out-edges: dangling, receives only)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,)], "id long")
    scale = 1_000_000_000_000
    got = {
        r["id"]: r["pr_fp"]
        for r in pagerank(edges, nodes, iters=3, scale=scale).collect()
    }

    n = 4
    init = scale // n
    base = (15 * init) // 100
    outdeg = {1: 2, 2: 1, 3: 1}
    pr = {u: init for u in (1, 2, 3, 4)}
    for _ in range(3):
        recv: dict[int, int] = {u: 0 for u in (1, 2, 3, 4)}
        for u, v in ((1, 2), (2, 3), (3, 1), (1, 4)):
            recv[v] += pr[u] // outdeg[u]
        pr = {u: base + (85 * recv[u]) // 100 for u in (1, 2, 3, 4)}
    assert got == pr
    # sanity on the shape: 3 (sole feeder of 1's full mass... ) — the
    # cycle nodes outrank the teleport-only floor, dangling 4 receives
    assert min(got.values()) >= base


def test_rrf_fuse_semantics(spark):
    """RRF: contribution = scale div (k_const + rank); ids absent from a
    list contribute 0 there; fused order (total DESC, id ASC).  Checked
    against a hand computation in exact integers."""
    from tidier_spark.operators.quality import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "rank long, doc_id long"
    ).select("rank", "doc_id")
    b = spark.createDataFrame(
        [(1, 30), (2, 10), (3, 40)], "rank long, doc_id long"
    ).select("rank", "doc_id")
    got = {
        r["doc_id"]: (r["rank"], r["rrf_fp"])
        for r in rrf_fuse([a, b], k_const=60, k=10, scale=1_000_000).collect()
    }
    s = 1_000_000
    want_fp = {
        10: s // 61 + s // 62,      # rank 1 in a, rank 2 in b
        30: s // 63 + s // 61,      # rank 3 in a, rank 1 in b
        20: s // 62,                # only in a
        40: s // 63,                # only in b
    }
    assert {d: fp for d, (_, fp) in got.items()} == want_fp
    # fused order: 10 (32516) > 30 (32262) > 20 (16129) > 40 (15873)
    order = sorted(got, key=lambda d: got[d][0])
    assert order == [10, 30, 20, 40]


def test_term_overlap_topk_set_semantics(spark):
    """Distinct-term overlap: repeats in the doc don't raise the count;
    ties break by id ascending."""
    from tidier_spark.operators.quality import term_overlap_topk

    df = spark.createDataFrame(
        [
            (1, "spark spark spark"),          # overlap 1 despite repeats
            (2, "spark vector"),               # overlap 2
            (3, "vector spark stream extra"),  # overlap 3
            (4, "nothing here"),               # overlap 0
            (5, "spark vector"),               # overlap 2, tie with 2
        ],
        "doc_id long, text string",
    )
    got = [
        (r["rank"], r["doc_id"], r["overlap"])
        for r in term_overlap_topk(
            df, ["spark", "vector", "stream"], k=4
        ).collect()
    ]
    assert got == [(1, 3, 3), (2, 2, 2), (3, 5, 2), (4, 1, 1)]


def test_retrieval_plans_no_global_sort(tables):
    """term_overlap_topk and rrf_fuse must lower their top-k to
    TakeOrderedAndProject (per-partition partial top-k + driver merge),
    never a full Sort+Exchange — the bm25_topk scale contract."""
    from tidier_spark.operators.quality import (
        bm25_topk,
        rrf_fuse,
        term_overlap_topk,
    )

    docs = tables["documents"]
    ov_plan = (
        term_overlap_topk(docs, ["spark", "vector"], k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in ov_plan
    fused = rrf_fuse(
        [
            bm25_topk(docs, ["spark", "vector"], k=5),
            term_overlap_topk(docs, ["spark", "vector"], k=5),
        ],
        k=5,
    )
    f_plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in f_plan
    assert "CartesianProduct" not in f_plan


def test_pagerank_plan_shape(tables):
    """pagerank's per-round aggregate must keep map-side partial
    aggregation (two HashAggregates per groupBy) and produce no
    cartesian product; driver state is the single count scalar."""
    from pyspark.sql import functions as F

    from tidier_spark.operators.graph import pagerank

    docs = tables["documents"]
    edges = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") % 7).alias("id_b")
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    plan = (
        pagerank(edges, nodes, iters=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final per round


def test_pq_topk_recall_with_rerank(tables):
    emb = tables["embeddings"].limit(200)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.pq_topk(emb, k=3, shortlist=32).collect()
    }
    recall = len(exact & approx) / max(len(exact), 1)
    assert recall >= 0.6, f"PQ top-3 recall too low: {recall:.2f}"


def test_pq_full_shortlist_is_exact(tables):
    emb = tables["embeddings"].limit(120)
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in similarity.cosine_topk(emb, k=2).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in similarity.pq_topk(emb, k=2, shortlist=10_000).collect()
    }
    assert exact == full


def test_pq_encode_is_deterministic_and_compact(tables):
    emb = tables["embeddings"].limit(100)
    books = similarity.train_pq_codebooks(emb, "vec_id", "embedding", m=8, n_codes=16)
    bc = emb.sparkSession.sparkContext.broadcast(books)
    a = similarity.pq_encode(emb, "vec_id", "embedding", bc).toPandas()
    b = similarity.pq_encode(emb, "vec_id", "embedding", bc).toPandas()
    a = a.sort_values("vec_id").reset_index(drop=True)
    b = b.sort_values("vec_id").reset_index(drop=True)
    assert (a["vec_id"] == b["vec_id"]).all()
    assert all(list(x) == list(y) for x, y in zip(a["codes"], b["codes"]))
    assert all(len(c) == 8 and max(c) < 16 for c in a["codes"])


def test_pq_distributed_path_full_shortlist_is_exact(tables):
    """Force the corpus > sample_size regime (distributed pq_encode +
    join-resolved re-rank — the 100 TB branch the driver-resident fast
    path bypasses on small fixtures) and pin it with the exactness
    property: a full shortlist must reproduce exact cosine top-k
    bit-for-bit regardless of codebook quality."""
    emb = tables["embeddings"].limit(120)
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in similarity.cosine_topk(emb, k=2).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in similarity.pq_topk(
            emb, k=2, shortlist=10_000, sample_size=64
        ).collect()
    }
    assert exact == full


def test_pq_driver_encode_matches_distributed(tables):
    """pq_topk's small-corpus fast path encodes on the driver from the
    training sample; it must be bit-equal to the distributed pq_encode
    assignment for the same codebooks (same argmin, same normalization)."""
    import numpy as np

    emb = tables["embeddings"].limit(100)
    books = similarity.train_pq_codebooks(emb, "vec_id", "embedding", m=8, n_codes=16)
    bc = emb.sparkSession.sparkContext.broadcast(books)
    dist = (
        similarity.pq_encode(emb, "vec_id", "embedding", bc)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    sample = similarity._training_sample(emb, "vec_id", "embedding", 4096)
    sample = sample.sort_values("vec_id").reset_index(drop=True)
    M = np.vstack(sample["embedding"].to_numpy()).astype(np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    m = books.shape[0]
    ds = M.shape[1] // m
    codes = np.empty((len(M), m), dtype=np.int32)
    for s in range(m):
        sub = M[:, s * ds : (s + 1) * ds]
        d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = np.argmin(d2, axis=1)
    assert (dist["vec_id"].to_numpy() == sample["vec_id"].to_numpy()).all()
    assert all(
        list(c_dist) == list(c_drv) for c_dist, c_drv in zip(dist["codes"], codes)
    )


def test_ivfpq_topk_recall(tables):
    emb = tables["embeddings"].limit(200)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivfpq_topk(
            emb, k=3, n_lists=8, n_probe=4, shortlist=16
        ).collect()
    }
    recall = len(exact & approx) / max(len(exact), 1)
    assert recall >= 0.5, f"IVF-PQ top-3 recall too low: {recall:.2f}"


def test_ivfpq_full_probe_full_shortlist_is_exact(tables):
    emb = tables["embeddings"].limit(120)
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in similarity.cosine_topk(emb, k=2).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"])
        for r in similarity.ivfpq_topk(
            emb, k=2, n_lists=6, n_probe=6, shortlist=10_000
        ).collect()
    }
    assert exact == full


def test_ivfpq_no_corpus_broadcast_or_collect(tables):
    # the IVF-PQ plan must not contain a driver collect of the corpus:
    # the only Python stages are mapInPandas (route) + applyInPandas
    # (bucket scoring); re-rank is a join.  Assert the plan shape.
    emb = tables["embeddings"].limit(150)
    plan = (
        similarity.ivfpq_topk(emb, k=2, n_lists=4, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" in plan   # bucket-local scoring
    assert "MapInPandas" in plan             # routing/encode pass


def test_length_buckets_approx_close_to_exact(tables):
    from tidier_spark.operators.corpus import length_buckets

    docs = tables["documents"]
    ex = length_buckets(docs, n_buckets=4, batch_size=8, exact=True).toPandas()
    ap = length_buckets(docs, n_buckets=4, batch_size=8, exact=False).toPandas()
    n = len(ex)
    # exact: perfectly equal-frequency
    sizes = ex.groupby("bucket").size()
    assert sizes.max() - sizes.min() <= 1
    # approx: same bucket count, each within 25% of n/4 (sketch error at
    # this accuracy is far tighter; the bound just guards regressions)
    ap_sizes = ap.groupby("bucket").size()
    assert set(ap_sizes.index) <= {1, 2, 3, 4}
    assert all(abs(s - n / 4) <= n / 4 * 0.25 for s in ap_sizes)
    # batches are contiguous 0..m with only the last partial
    for (_, grp) in ex.groupby("bucket"):
        counts = grp.groupby("batch").size().sort_index()
        assert (counts.iloc[:-1] == 8).all()
        assert counts.iloc[-1] <= 8


def test_length_buckets_batches_are_length_sorted(tables):
    from tidier_spark.operators.corpus import length_buckets

    out = length_buckets(
        tables["documents"], n_buckets=4, batch_size=8, exact=True
    ).toPandas().sort_values(["bucket", "batch", "n_tokens"])
    # bucket boundaries respect length order: max of bucket b <= min of b+1
    for b in range(1, 4):
        assert (
            out[out.bucket == b].n_tokens.max()
            <= out[out.bucket == b + 1].n_tokens.min()
        )


def test_robust_outliers_matches_python_reference(spark):
    import statistics

    from tidier_spark.operators.quality import robust_outliers

    vals = [10.0, 10.5, 11.0, 9.5, 10.2, 10.8, 9.9, 500.0,  # g "a": one spike
            1.0, 1.1, 0.9, 1.05]                            # g "b": clean
    rows = [(i, "a" if i < 8 else "b", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_id long, g string, value double")
    got = {
        r["event_id"]: (r["med"], r["mad"], r["is_outlier"])
        for r in robust_outliers(
            df, "value", by="g", id_cols=["event_id"]
        ).collect()
    }
    for grp in ("a", "b"):
        xs = [round(v * 100) for i, g, v in rows if g == grp]
        med = statistics.median(xs)
        mad = statistics.median([abs(x - med) for x in xs])
        for i, g, v in rows:
            if g != grp:
                continue
            x = round(v * 100)
            assert got[i] == (med, mad, abs(x - med) > 3.5 * mad), (i, grp)
    # the spike is flagged, everything else is not
    assert got[7][2] is True
    assert sum(1 for m, d, o in got.values() if o) == 1


def test_robust_outliers_exact_vs_approx_same_flags(tables):
    from tidier_spark.operators.quality import robust_outliers

    ev = tables["events"]
    ex = robust_outliers(ev, "value", by="event_type", id_cols=["event_id"])
    ap = robust_outliers(
        ev, "value", by="event_type", id_cols=["event_id"], exact=False
    )
    g1 = {r["event_id"]: r["is_outlier"] for r in ex.collect()}
    g2 = {r["event_id"]: r["is_outlier"] for r in ap.collect()}
    agree = sum(1 for k in g1 if g1[k] == g2[k]) / len(g1)
    assert agree >= 0.99, f"approx lowering diverges: {agree:.3f}"


def test_kmeans_fit_matches_python_reference(tables):
    import numpy as np

    from tidier_spark.operators.similarity import kmeans_fit

    emb = tables["embeddings"].limit(150)
    got = {r["vec_id"]: r["cluster"] for r in kmeans_fit(emb, k=3, iters=2).collect()}
    rows = sorted(
        (r["vec_id"], list(r["embedding"])) for r in emb.collect()
    )
    X = {vid: [round(float(x) * 10_000) for x in v] for vid, v in rows}
    cents = [X[vid] for vid, _ in rows[:3]]

    def assign_all():
        out = {}
        for vid, x in X.items():
            ds = [sum((a - b) ** 2 for a, b in zip(x, c)) for c in cents]
            out[vid] = ds.index(min(ds))  # lowest cluster on ties
        return out

    for _ in range(2):
        a = assign_all()
        for c in range(3):
            members = [X[v] for v, cl in a.items() if cl == c]
            if members:
                cents[c] = [
                    (abs(s) // len(members)) * (1 if s >= 0 else -1)
                    for s in (sum(col) for col in zip(*members))
                ]
    want = assign_all()
    assert got == want
    assert len(set(got.values())) > 1  # it actually partitions


def test_kmeans_assignment_stays_jvm_side(tables):
    from tidier_spark.operators.similarity import kmeans_fit

    emb = tables["embeddings"].limit(100)
    plan = (
        kmeans_fit(emb, k=2, iters=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # per-row assignment must be a codegen expression, never a Python UDF
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_perceptron_matches_python_reference(tables):
    from tidier_spark.operators.quality import perceptron_fit

    emb = tables["embeddings"].limit(120)
    got = {
        r["vec_id"]: (r["y"], r["margin"], r["correct"])
        for r in perceptron_fit(emb, iters=2).collect()
    }
    rows = [
        (r["vec_id"], [round(float(x) * 10_000) for x in r["embedding"]] + [10_000],
         1 if r["label"] <= 4 else -1)
        for r in emb.collect()
    ]
    w = [0] * 65
    for _ in range(2):
        grad = [0] * 65
        for _, x, y in rows:
            m = sum(a * b for a, b in zip(x, w))
            if y * m <= 0:
                for i, xi in enumerate(x):
                    grad[i] += y * xi
        w = [a + b for a, b in zip(w, grad)]
    for vid, x, y in rows:
        m = sum(a * b for a, b in zip(x, w))
        assert got[vid] == (y, m, y * m > 0), vid


def test_robust_outliers_keeps_null_group_keys(spark):
    from tidier_spark.operators.quality import robust_outliers

    rows = [(1, "a", 10.0), (2, "a", 11.0), (3, None, 5.0), (4, None, 6.0)]
    df = spark.createDataFrame(rows, "event_id long, g string, value double")
    out = robust_outliers(df, "value", by="g", id_cols=["event_id"]).collect()
    # the NULL group survives the stat join-back as its own group
    assert {r["event_id"] for r in out} == {1, 2, 3, 4}
    null_rows = [r for r in out if r["g"] is None]
    assert len(null_rows) == 2 and all(not r["is_outlier"] for r in null_rows)


def test_ewma_all_null_values_yield_null_average(spark):
    from tidier_spark.operators.temporal import ewma

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1, None), (1, "2024-01-01 00:01:00", 2, None)],
        "user_id long, ts string, event_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = ewma(df, "user_id", "ts", "value", "event_id").collect()
    assert all(r["ewma_den"] == 0 and r["ewma100"] is None for r in out)


def test_stream_funnel_multi_batch_state_carries(spark, tmp_path):
    # funnel advancement must survive micro-batch boundaries: step 1
    # arrives in batch 1, steps 2-3 in batch 2 (maxFilesPerTrigger=1,
    # forced mtimes) — the state carries t1 across and chains correctly
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tidier_spark.streaming import run_stream, stream_funnel_advances

    src = tmp_path / "fsrc"
    src.mkdir()
    base = 1_700_000_000_000_000  # epoch µs
    t1 = pa.table({
        "user_id": [1, 2],
        "ts": pa.array([base, base + 10], type=pa.timestamp("us")),
        "event_type": ["view", "click"],  # u2's click BEFORE any view
    })
    t2 = pa.table({
        "user_id": [1, 1, 2],
        "ts": pa.array(
            [base + 60_000_000, base + 120_000_000, base + 60_000_000],
            type=pa.timestamp("us")),
        "event_type": ["click", "purchase", "view"],
    })
    pq.write_table(t1, src / "b1.parquet")
    pq.write_table(t2, src / "b2.parquet")
    now = _time.time()
    _os.utime(src / "b1.parquet", (now - 60, now - 60))
    _os.utime(src / "b2.parquet", (now, now))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = stream_funnel_advances(
        stream, key_col="user_id", time_col="ts",
        step_col="event_type", steps=["view", "click", "purchase"],
    )
    res = run_stream(out, name="t_stream_funnel_mb", output_mode="append")
    got = sorted((r["key"], r["step"], r["t_us"]) for r in res.collect())
    # u1 completes all three across the batch boundary; u2's early click
    # never counts (no prior view), its view registers as step 1
    assert got == [
        (1, 1, base),
        (1, 2, base + 60_000_000),
        (1, 3, base + 120_000_000),
        (2, 1, base + 60_000_000),
    ]


def test_bigram_surprisal_matches_python_reference(spark):
    import math
    import re

    from tidier_spark.operators.text import bigram_surprisal

    texts = ["the cat sat on the mat", "the cat ran", "dogs run", ""]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["bigram_bits"], r["backoff_bits"])
        for r in bigram_surprisal(df).collect()
    }
    docs = {
        i: [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        for i, t in enumerate(texts)
    }
    from collections import Counter

    uni = Counter(w for ws in docs.values() for w in ws)
    total = sum(uni.values())
    bc = Counter(
        (ws[j], ws[j + 1]) for ws in docs.values() for j in range(len(ws) - 1)
    )
    cc = Counter()
    for (p, _), n in bc.items():
        cc[p] += n
    bl = lambda x: x.bit_length()
    for i, ws in docs.items():
        bb = sum(bl(cc[(ws[j])]) - bl(bc[(ws[j], ws[j + 1])])
                 for j in range(len(ws) - 1))
        back = bl(total) - bl(uni[ws[0]]) if ws else 0
        assert got[i] == (len(ws), bb, back), (i, ws)


def test_winsorize_clamps_known_values(spark):
    from tidier_spark.operators.quality import winsorize

    vals = [float(i) for i in range(1, 11)]  # pennies 100..1000
    df = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate(vals)],
        "event_id long, g string, value double",
    )
    got = {
        r["event_id"]: (r["q_lo"], r["q_hi"], r["vc_winsor"], r["clamped"])
        for r in winsorize(
            df, "value", by="g", lower=0.1, upper=0.9, id_cols=["event_id"]
        ).collect()
    }
    # pennies 100..1000: p10 = 190, p90 = 910 (linear interpolation)
    assert got[0] == (190.0, 910.0, 190.0, True)    # 100 -> clamped up
    assert got[9] == (190.0, 910.0, 910.0, True)    # 1000 -> clamped down
    assert got[4] == (190.0, 910.0, 500.0, False)   # 500 untouched
    assert sum(1 for *_, c in got.values() if c) == 2


def test_skew_report_identifies_hot_key(spark):
    from tidier_spark.operators.profile import skew_report

    rows = [(1,)] * 60 + [(2,)] * 30 + [(3,)] * 10
    df = spark.createDataFrame(rows, "k long")
    top = skew_report(df, "k", top_k=2).collect()
    assert [(r["key_rank"], r["key"], r["n"]) for r in top] == [
        (1, 1, 60), (2, 2, 30)
    ]
    # hot key holds 60% of 100 rows over 3 keys -> 1.8x uniform = 180
    assert top[0]["skew_factor_x100"] == 180
    assert top[0]["n_total"] == 100 and top[0]["n_keys"] == 3


def test_bpe_encode_unknown_symbols_get_unk_id_zero(spark):
    from tidier_spark.operators.bpe import bpe_encode

    # vocab trained on 'ab' only; encoding text with 'z' must emit UNK=0
    # and keep len(ids) == n_subwords
    df = spark.createDataFrame([(1, "ab za")], "doc_id long, text string")
    out = bpe_encode(df, merges=[("a", "b")], base_chars=["a", "b"]).collect()[0]
    # tokens: 'ab' -> [ab]=id 3; 'za' -> [z]=UNK 0, [a]=1
    assert out["n_subwords"] == 3
    assert out["ids_csv"] == "3,0,1"


def test_cms_build_int_query_bigint_still_no_undercount(spark):
    from pyspark.sql import functions as F

    from tidier_spark.operators.sketches import cms_build, cms_query

    df = spark.createDataFrame([(i % 7,) for i in range(700)], "v int")
    cms = cms_build(df, "v", depth=4, width=64)
    items = spark.createDataFrame([(i,) for i in range(7)], "v long")  # BIGINT
    est = {
        r["v"]: r["est_n"]
        for r in cms_query(cms, items, "v", depth=4, width=64).collect()
    }
    # string-normalized hashing: the BIGINT probe hits the INT buckets
    assert all(est[i] >= 100 for i in range(7))


def test_label_centroids_mergeable_across_shards(tables):
    from tidier_spark.operators.similarity import label_centroids

    emb = tables["embeddings"]
    full = {
        (r["label"], r["dim"]): (r["comp_sum"], r["n"])
        for r in label_centroids(emb).collect()
    }
    # fold two disjoint shards' partials -> must equal the one-shot run
    a = label_centroids(emb.where("vec_id % 2 = 0"))
    b = label_centroids(emb.where("vec_id % 2 = 1"))
    partials = {}
    for part in (a.collect(), b.collect()):
        for r in part:
            k = (r["label"], r["dim"])
            s, n = partials.get(k, (0, 0))
            partials[k] = (s + r["comp_sum"], n + r["n"])
    assert partials == full and len(full) > 0


def test_stream_ewma_multi_batch_matches_batch(spark, tmp_path):
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tidier_spark.operators.temporal import ewma
    from tidier_spark.streaming import run_stream, stream_ewma

    base = 1_700_000_000_000_000
    rows = [(1, base + i * 60_000_000, i, float((i * 13) % 40)) for i in range(12)]
    src = tmp_path / "esrc"
    src.mkdir()
    for bi, chunk in enumerate((rows[:5], rows[5:])):
        t = pa.table({
            "user_id": [r[0] for r in chunk],
            "ts": pa.array([r[1] for r in chunk], type=pa.timestamp("us")),
            "event_id": [r[2] for r in chunk],
            "value": [r[3] for r in chunk],
        })
        pq.write_table(t, src / f"b{bi}.parquet")
    now = _time.time()
    _os.utime(src / "b0.parquet", (now - 60, now - 60))
    _os.utime(src / "b1.parquet", (now, now))

    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = stream_ewma(
        stream, key_col="user_id", time_col="ts",
        value_col="value", tiebreak_col="event_id",
    )
    res = run_stream(out, name="t_stream_ewma_mb", output_mode="append")
    got = sorted(
        (r["key"], r["ts_us"], r["tb"], r["ewma_num"], r["ewma_den"], r["ewma100"])
        for r in res.collect()
    )
    bdf = spark.createDataFrame(
        rows, "user_id long, us long, event_id long, value double"
    ).selectExpr("user_id", "timestamp_micros(us) AS ts", "event_id", "value")
    want = sorted(
        tuple(r)
        for r in ewma(bdf, "user_id", "ts", "value", "event_id").collect()
    )
    assert got == want and len(got) == 12


def test_stream_scd2_multi_batch_equals_batch(spark, tmp_path):
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tidier_spark.operators.merge import scd2
    from tidier_spark.streaming import stream_scd2_parquet

    base = 1_700_000_000_000_000
    rows = [
        (1, base + i * 60_000_000, i, a)
        for i, a in enumerate("AABBA" "BBCCA")  # run structure across cut
    ] + [(2, base, 100, "X"), (2, base + 600_000_000, 101, "X")]
    early = [r for r in rows if r[1] < base + 5 * 60_000_000]
    late = [r for r in rows if r[1] >= base + 5 * 60_000_000]
    src = tmp_path / "s2src"
    src.mkdir()
    for bi, chunk in enumerate((early, late)):
        t = pa.table({
            "user_id": [r[0] for r in chunk],
            "ts": pa.array([r[1] for r in chunk], type=pa.timestamp("us")),
            "event_id": [r[2] for r in chunk],
            "attr": [r[3] for r in chunk],
        })
        pq.write_table(t, src / f"b{bi}.parquet")
    now = _time.time()
    _os.utime(src / "b0.parquet", (now - 60, now - 60))
    _os.utime(src / "b1.parquet", (now, now))

    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, attr string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    final = stream_scd2_parquet(
        stream, str(tmp_path / "s2tbl"), "user_id", "ts", "attr", "event_id",
        name="t_stream_scd2_mb",
    )
    got = sorted(tuple(r) for r in final.selectExpr(
        "user_id", "attr", "valid_from_us", "valid_to_us", "is_current", "n_obs"
    ).collect())
    bdf = spark.createDataFrame(
        rows, "user_id long, us long, event_id long, attr string"
    ).selectExpr("user_id", "timestamp_micros(us) AS ts", "event_id", "attr")
    want = sorted(tuple(r) for r in scd2(
        bdf, "user_id", "ts", "attr", "event_id").collect())
    assert got == want and len(got) > 4
    # genuinely multi-batch: two committed versions exist (or one pruned)
    import os as _os2
    vs = [d for d in _os2.listdir(tmp_path / "s2tbl") if d.startswith("v=")]
    assert len(vs) >= 1


def test_budget_mix_zero_token_source_keeps_rows(spark):
    from tidier_spark.operators.corpus import budget_mix

    df = spark.createDataFrame(
        [(1, "a", 50), (2, "a", 50), (3, "b", 0), (4, "b", 0)],
        "doc_id long, source string, n_tokens long",
    )
    # source b has 0 available tokens: ANSI div-by-zero must not raise;
    # its rows all pass (thr = 1e6), mirroring DuckDB's NULL-division
    out = budget_mix(df, 100, {"a": 1, "b": 1}, tokens_col="n_tokens")
    got = {r["doc_id"]: r["thr_ppm"] for r in out.collect()}
    assert got[3] == 1_000_000 and got[4] == 1_000_000


def test_validate_duplicate_same_kind_rules(tables, sf_dir):
    from helpers import assert_matches_oracle
    from tidier_spark.operators.expectations import validate, validate_sql

    rules = {
        "event_type": [("matches", "^[a-z]+$"), ("matches", "^zzz")],
        "event_id": [("not_null",), ("unique",), ("unique",)],
    }
    r = validate(tables["events"], rules)
    rows = {(x["column"], x["rule"]): x["n_violations"] for x in r.collect()}
    # second same-kind rule gets a #2 suffix; all four rows distinct
    assert ("event_type", "matches") in rows
    assert ("event_type", "matches#2") in rows
    assert rows[("event_type", "matches#2")] > 0  # nothing starts with zzz
    assert ("event_id", "unique#2") in rows
    assert_matches_oracle(r, validate_sql("events", rules), sf_dir)


def test_cosine_topk_k_exceeds_candidates_no_self_pair(spark):
    from tidier_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = cosine_topk(df, k=5).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in out)
    assert all(r["cos_sim"] == r["cos_sim"] and r["cos_sim"] > -1e9 for r in out)
    # each query sees exactly the 2 other vectors
    from collections import Counter
    assert Counter(r["query_id"] for r in out) == {1: 2, 2: 2, 3: 2}


def test_stream_dedup_against_empty_stream_returns_empty(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tidier_spark.streaming import stream_dedup_against

    src = tmp_path / "empty_src"
    src.mkdir()
    pq.write_table(
        pa.table({"doc_id": pa.array([], type=pa.int64()),
                  "text": pa.array([], type=pa.string())}),
        src / "b0.parquet",
    )
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(str(src))
    )
    ref = spark.createDataFrame([(100, "some reference doc")], "doc_id long, text string")
    out = stream_dedup_against(
        stream, ref, str(tmp_path / "empty_tbl"), name="t_sdae"
    )
    assert out.count() == 0


def test_kmeans_k1_single_cluster(tables):
    from tidier_spark.operators.similarity import kmeans_fit

    emb = tables["embeddings"].limit(40)
    out = kmeans_fit(emb, k=1, iters=1).collect()
    assert len(out) == 40 and all(r["cluster"] == 0 for r in out)


def test_ivfpq_n_probe_exceeds_lists_is_clamped(tables):
    from tidier_spark.operators.similarity import ivfpq_topk

    emb = tables["embeddings"].limit(80)
    out = ivfpq_topk(emb, k=2, n_lists=4, n_probe=99, shortlist=8).collect()
    assert len(out) > 0  # no executor-side array-shape crash


def test_stream_scd2_fold_is_replay_idempotent(spark, tmp_path):
    """foreachBatch replay contract: if a crash lands between the v=N
    snapshot write and the checkpoint commit, the batch REPLAYS — and
    scd2_merge is an accumulating fold, so a blind re-fold double-counts
    n_obs and duplicates history rows.  The _BATCH_<id> marker makes the
    replay a no-op."""
    import os as _os

    from tidier_spark.streaming.sink import _scd2_fold_batch, read_merged

    base = 1_700_000_000_000_000
    mk = lambda rows: spark.createDataFrame(
        rows, "user_id long, us long, event_id long, attr string"
    ).selectExpr("user_id", "timestamp_micros(us) AS ts", "event_id", "attr")
    b0 = mk([(1, base, 0, "A"), (1, base + 60_000_000, 1, "A")])
    b1 = mk([(1, base + 120_000_000, 2, "B"), (1, base + 180_000_000, 3, "B")])
    tbl = str(tmp_path / "scd2_replay")
    args = ("user_id", "ts", "attr", "event_id")

    _scd2_fold_batch(spark, tbl, b0, 0, *args)
    _scd2_fold_batch(spark, tbl, b1, 1, *args)
    want = sorted(tuple(r) for r in read_merged(spark, tbl).collect())

    # replay of the LAST batch (the classic crash window) and of an
    # older batch: both must leave the table bit-identical
    _scd2_fold_batch(spark, tbl, b1, 1, *args)
    _scd2_fold_batch(spark, tbl, b0, 0, *args)
    got = sorted(tuple(r) for r in read_merged(spark, tbl).collect())
    assert got == want
    # n_obs stayed exact (2 observations per run, never 4)
    n_obs = {r["attr"]: r["n_obs"] for r in read_merged(spark, tbl).collect()}
    assert n_obs == {"A": 2, "B": 2}

    # half-commit recovery: a committed-but-marker-less version (crash
    # before the marker write) is skipped as merge base; the replayed
    # batch folds into the last MARKED version and supersedes the orphan
    vdirs = sorted(
        d for d in _os.listdir(tbl) if d.startswith("v=")
    )
    orphan = _os.path.join(tbl, f"v={int(vdirs[-1][2:]) + 1}")
    read_merged(spark, tbl).write.mode("overwrite").parquet(orphan)  # no marker
    b2 = mk([(1, base + 240_000_000, 4, "C")])
    _scd2_fold_batch(spark, tbl, b2, 2, *args)
    final = sorted(tuple(r) for r in read_merged(spark, tbl).collect())
    n_obs = {r["attr"]: r["n_obs"] for r in read_merged(spark, tbl).collect()}
    assert n_obs == {"A": 2, "B": 2, "C": 1} and len(final) == 3


def test_pq_topk_enforces_driver_index_boundary(tables):
    """The FAISS single-index contract (code table collected to the
    driver) is a CODE-enforced boundary: a corpus above max_corpus_rows
    raises and routes to ivfpq_topk instead of silently OOM-ing the
    driver at scale."""
    import pytest as _pytest

    from tidier_spark.operators import similarity

    emb = tables["embeddings"]
    with _pytest.raises(ValueError, match="ivfpq_topk"):
        similarity.pq_topk(emb, k=3, max_corpus_rows=10)
    # and under the bound the path still runs end-to-end
    assert similarity.pq_topk(
        emb.limit(40), k=1, max_corpus_rows=1000, sample_size=64
    ).count() > 0


def test_dedup_against_precomputed_bands_and_ids_only(tables):
    """bands_new/bands_ref precomputed-store hooks and the
    best_match=False membership fast path must agree with the default
    recompute-everything path."""
    from pyspark.sql import functions as F

    from tidier_spark.operators.dedup import banded_signatures, dedup_against

    docs = tables["documents"]
    new = docs.where(F.col("doc_id") % 2 == 1)
    ref = docs.where(F.col("doc_id") % 2 == 0)
    base = dedup_against(new, ref, threshold=0.3)
    want = sorted(tuple(r) for r in base.collect())

    bn = banded_signatures(new, "doc_id", "text", 8, 4, 3, "doc_id_n")
    br = banded_signatures(ref, "doc_id", "text", 8, 4, 3, "ref_id")
    got = sorted(
        tuple(r)
        for r in dedup_against(
            new, ref, threshold=0.3, bands_new=bn, bands_ref=br
        ).collect()
    )
    assert got == want

    ids = sorted(
        r["doc_id"]
        for r in dedup_against(
            new, ref, threshold=0.3, best_match=False
        ).collect()
    )
    assert ids == sorted(r[0] for r in want)


def test_bpe_train_local_equals_distributed(tables, bpe_route):
    """bpe_train_local (one word-count pass + driver-side greedy rounds)
    must return byte-identical merges to bpe_train on both of its routes
    (driver loop and distributed rounds), and its base_chars must equal
    corpus_chars — it is the same Sennrich greedy."""
    import pytest as _pytest

    from tidier_spark.operators.bpe import (
        bpe_train,
        bpe_train_local,
        corpus_chars,
    )

    docs = tables["documents"]
    merges, chars = bpe_train_local(docs, n_merges=6)
    want = [
        (r.rank, r.left_sym, r.right_sym, r.merged, r.pair_n)
        for r in bpe_train(docs, n_merges=6).collect()
    ]
    assert merges == want
    assert chars == corpus_chars(docs)
    # the driver boundary is enforced, with the distributed trainer named
    with _pytest.raises(ValueError, match="bpe_train"):
        bpe_train_local(docs, n_merges=2, max_vocab_rows=10)


def test_exact_quantiles_matches_builtin(spark):
    """exact_quantiles (distributed (value,count)+cumcount shape) must be
    bit-identical to the built-in exact `percentile` aggregate — same
    interpolation formula, NULLs ignored, ties collapsed into counts."""
    import random

    from tidier_spark.operators.sketches import exact_quantiles

    random.seed(7)
    rows = [
        (
            random.choice("ABC"),
            float(random.randint(0, 10000)) if random.random() > 0.05 else None,
        )
        for _ in range(5000)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    ref = {
        r["g"]: (r["p50"], r["p90"], r["p31"])
        for r in df.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.9)").alias("p90"),
            F.expr("percentile(v, 0.31)").alias("p31"),
        )
        .collect()
    }
    mine = {
        r["g"]: (r["q_0"], r["q_1"], r["q_2"])
        for r in exact_quantiles(df, "v", [0.5, 0.9, 0.31], by="g").collect()
    }
    assert set(ref) == set(mine)
    for g in ref:
        assert ref[g] == mine[g]
    # single-value group; all-NULL group is absent (documented divergence
    # from the built-in, which emits the group with NULL quantiles)
    df2 = spark.createDataFrame([("X", 5.0), ("Y", None)], "g string, v double")
    m2 = {r["g"]: r["q_0"] for r in exact_quantiles(df2, "v", [0.5], by="g").collect()}
    assert m2 == {"X": 5.0}


def test_exact_quantiles_ungrouped_both_regimes(spark):
    """by=None = GLOBAL quantiles, one output row, both regimes
    bit-identical to the built-in percentile.  The ungrouped case is
    exactly the single-huge-group regime coarse_groups exists for
    (ADVICE r05 #1: the coarse path used to crash on join(on=[]))."""
    import random

    from tidier_spark.operators.sketches import exact_quantiles

    random.seed(13)
    rows = [
        (float(random.randint(0, 500)) if random.random() > 0.05 else None,)
        for _ in range(4000)
    ]
    df = spark.createDataFrame(rows, "v double")
    ref = df.agg(
        F.expr("percentile(v, 0.5)").alias("p50"),
        F.expr("percentile(v, 0.9)").alias("p90"),
        F.expr("percentile(v, 0.07)").alias("p07"),
    ).collect()[0]
    for coarse in (False, True):
        got = exact_quantiles(
            df, "v", [0.5, 0.9, 0.07], coarse_groups=coarse
        ).collect()
        assert len(got) == 1
        assert (got[0]["q_0"], got[0]["q_1"], got[0]["q_2"]) == (
            ref["p50"],
            ref["p90"],
            ref["p07"],
        ), coarse


def test_scale_safe_cumulative_5m_rows_matches_window(spark):
    """Value-level scale probe: the two-pass range-partitioned prefix sum
    must equal the single-partition window cumsum on 5M rows — not just
    have the right plan shape (test_scale_safe_cumsum_multi_task).  Keys
    are unique, values deterministic; comparison is an exact integer
    checksum over cum·key plus head/tail spot rows."""
    from pyspark.sql import Window

    from tidier_spark.window import scale_safe_cumulative

    n = 5_000_000
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.xxhash64("id") % 1000).alias("v")
    )
    fast = scale_safe_cumulative(df, "v", order_by=["k"], out="cum", fn="sum")
    slow = df.withColumn(
        "cum",
        F.sum("v").over(
            Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )

    def checksum(frame):
        return frame.agg(
            F.sum(F.col("cum") * ((F.col("k") % 997) + 1)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]

    cf, cs = checksum(fast), checksum(slow)
    assert cf["n"] == cs["n"] == n
    assert cf["s"] == cs["s"]
    spot_f = {r["k"]: r["cum"] for r in fast.where(F.col("k").isin(0, 1, n - 1)).collect()}
    spot_s = {r["k"]: r["cum"] for r in slow.where(F.col("k").isin(0, 1, n - 1)).collect()}
    assert spot_f == spot_s


def test_stream_trailing_multi_batch_state_carries(spark, tmp_path):
    """applyInPandasWithState trailing mean across a micro-batch boundary:
    batch 2's early events must see batch 1's in-window events through the
    state store (maxFilesPerTrigger=1 forces two batches), and the full
    replay must equal the batch RANGE-frame oracle exactly."""
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Window

    from tidier_spark.streaming import run_stream, stream_trailing_agg

    base = 1_700_000_000_000_000
    # two keys, events every 20 min; 1-hour trailing window spans the
    # batch-1/batch-2 boundary for both keys
    rows = [
        ((i % 2) + 1, base + i * 1_200_000_000, float((i * 7) % 30) * 100)
        for i in range(12)
    ]
    src = tmp_path / "tsrc"
    src.mkdir()
    for bi, chunk in enumerate((rows[:6], rows[6:])):
        t = pa.table({
            "user_id": [r[0] for r in chunk],
            "ts": pa.array([r[1] for r in chunk], type=pa.timestamp("us")),
            "vc": [r[2] for r in chunk],
        })
        pq.write_table(t, src / f"b{bi}.parquet")
    now = _time.time()
    _os.utime(src / "b0.parquet", (now - 60, now - 60))
    _os.utime(src / "b1.parquet", (now, now))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, vc double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = stream_trailing_agg(
        stream,
        key_col="user_id",
        time_col="ts",
        value_col="vc",
        trailing_seconds=3600,
        timeout_minutes=None,
    )
    res = run_stream(out, name="t_stream_trailing_mb", output_mode="append")
    got = sorted(
        (r["key"], r["ts"], r["value"], round(r["trail_avg"], 6))
        for r in res.collect()
    )
    bdf = spark.createDataFrame(
        rows, "user_id long, us long, vc double"
    ).selectExpr("user_id", "timestamp_micros(us) AS ts", "vc")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    want = sorted(
        (r["user_id"], r["ts"], r["vc"], round(r["trail_avg"], 6))
        for r in bdf.withColumn("trail_avg", F.avg("vc").over(w)).collect()
    )
    assert got == want and len(got) == 12


def test_stream_sessions_multi_batch_merge(spark, tmp_path):
    """session_window state merge across micro-batches: a session whose
    events straddle the batch-1/batch-2 boundary must come out as ONE
    merged session, equal to the batch session_agg oracle."""
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tidier_spark.operators.temporal import session_agg
    from tidier_spark.streaming import run_stream, stream_session_agg

    base = 1_700_000_000_000_000
    # key 1: events at 0, 10, 20, 30 min (10-min gap => one session, but
    # split 0/10 into batch 1 and 20/30 into batch 2); key 2: two events
    # 2h apart => two singleton sessions, one per batch
    rows = [
        (1, base),
        (1, base + 600_000_000),
        (2, base),
        (1, base + 1_200_000_000),
        (1, base + 1_800_000_000),
        (2, base + 7_200_000_000),
    ]
    src = tmp_path / "ssrc"
    src.mkdir()
    for bi, chunk in enumerate((rows[:3], rows[3:])):
        t = pa.table({
            "user_id": [r[0] for r in chunk],
            "ts": pa.array([r[1] for r in chunk], type=pa.timestamp("us")),
        })
        pq.write_table(t, src / f"b{bi}.parquet")
    now = _time.time()
    _os.utime(src / "b0.parquet", (now - 60, now - 60))
    _os.utime(src / "b1.parquet", (now, now))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    streamed = run_stream(
        stream_session_agg(
            stream, key_col="user_id", time_col="ts", gap_seconds=1800
        ),
        name="t_stream_sessions_mb",
        output_mode="complete",
    )
    bdf = spark.createDataFrame(rows, "user_id long, us long").selectExpr(
        "user_id", "timestamp_micros(us) AS ts"
    )
    batch = session_agg(bdf, "user_id", "ts", gap_seconds=1800)
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
    # and the boundary-straddling session really merged: key 1 -> 1 session
    n1 = streamed.where(F.col("user_id") == 1).count()
    assert n1 == 1, streamed.collect()


def test_stream_interval_join_multi_batch_two_sided_state(spark, tmp_path):
    """Stream-stream interval join across a micro-batch boundary: views
    arriving in batch 1 must join purchases arriving in batch 2 (and vice
    versa) through BOTH sides' state stores; the full replay equals the
    batch join with the identical interval condition."""
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tidier_spark.streaming import run_stream, stream_interval_join

    base = 1_700_000_000_000_000

    def write(dirname, rows, cols):
        d = tmp_path / dirname
        d.mkdir()
        for bi, chunk in enumerate(rows):
            t = pa.table(
                {
                    "user_id": [r[0] for r in chunk],
                    "ts": pa.array([r[1] for r in chunk], type=pa.timestamp("us")),
                    cols: [r[2] for r in chunk],
                }
            )
            pq.write_table(t, d / f"b{bi}.parquet")
        now = _time.time()
        _os.utime(d / "b0.parquet", (now - 60, now - 60))
        _os.utime(d / "b1.parquet", (now, now))
        return d

    # batch 1: view v1 at t0 (user 1), purchase p9 at t0+50min (user 2)
    # batch 2: purchase p2 at t0+30min (user 1 — joins v1 across batches),
    #          view v3 at t0+20min (user 2 — joins p9 across batches)
    vdir = write(
        "views",
        ([(1, base, 10)], [(2, base + 1_200_000_000, 30)]),
        "view_id",
    )
    pdir = write(
        "buys",
        ([(2, base + 3_000_000_000, 90)], [(1, base + 1_800_000_000, 20)]),
        "buy_id",
    )

    def rd(d, col):
        return (
            spark.readStream.schema(f"user_id long, ts timestamp, {col} long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )

    j = stream_interval_join(
        rd(vdir, "view_id"),
        rd(pdir, "buy_id"),
        "user_id",
        left_ts="ts",
        right_ts="ts",
        lower="0 seconds",
        upper="1 hour",
        watermark="30 minutes",
    )
    out = run_stream(
        j.select("user_id", "l_view_id", "r_buy_id"),
        name="t_stream_ij_mb",
        output_mode="append",
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(1, 10, 20), (2, 30, 90)], got


def test_stream_rollup_multi_batch_incremental_agg(spark, tmp_path):
    """Watermarked tumbling-window agg across micro-batches: a window
    receiving rows in BOTH batches must aggregate incrementally through
    the state store (complete mode), equal to the batch bucketing."""
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tidier_spark.streaming import run_stream, stream_windowed_agg

    base = 1_700_000_000_000_000
    # one 1-hour window gets rows in batch 1 AND batch 2; a second window
    # only in batch 2
    rows = [
        ("a", base, 100.0),
        ("a", base + 600_000_000, 200.0),
        ("a", base + 1_200_000_000, 300.0),
        ("a", base + 7_200_000_000, 50.0),
    ]
    src = tmp_path / "rsrc"
    src.mkdir()
    for bi, chunk in enumerate((rows[:2], rows[2:])):
        t = pa.table({
            "event_type": [r[0] for r in chunk],
            "ts": pa.array([r[1] for r in chunk], type=pa.timestamp("us")),
            "value": [r[2] for r in chunk],
        })
        pq.write_table(t, src / f"b{bi}.parquet")
    now = _time.time()
    _os.utime(src / "b0.parquet", (now - 60, now - 60))
    _os.utime(src / "b1.parquet", (now, now))

    stream = (
        spark.readStream.schema("event_type string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    r = stream_windowed_agg(
        stream,
        {"n": "count(*)", "sum_v": "sum(round(value * 100)) / 100"},
        time_col="ts",
        window="1 hour",
        by="event_type",
    )
    out = run_stream(r, name="t_stream_rollup_mb", output_mode="complete")
    got = sorted(
        (r2["event_type"], r2["window_start"], r2["n"], r2["sum_v"])
        for r2 in out.collect()
    )
    assert [g[2:] for g in got] == [(3, 600.0), (1, 50.0)], got


def test_snapshot_diff_coerces_drifted_column_types(spark):
    """decvals axis (r9): a DECIMAL(15,2) snapshot whose new side went
    through a ``+ 1.0`` double promotion must still diff — the
    per-column null-safe comparison gets Spark's implicit coercion
    where the old one-struct inequality raised BINARY_OP_DIFF_TYPES.
    1.00 (decimal) vs 1.0 (double) must compare EQUAL, not 'update'."""
    from pyspark.sql import functions as F

    from tidier_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "1.00"), (2, "2.50"), (3, "3.00")], ["k", "vs"]
    ).select("k", F.col("vs").cast("decimal(15,2)").alias("v"))
    new = spark.createDataFrame(
        [(1, 1.0), (2, 3.5), (4, 9.0)], ["k", "v"]
    )
    got = {(r.k, r.change) for r in snapshot_diff(old, new, "k").collect()}
    assert got == {(2, "update"), (3, "delete"), (4, "insert")}, got


def test_snapshot_diff_null_transitions_match_duckdb(spark):
    """A value changing to/from NULL IS an update (struct inequality is
    null-safe in Spark); NULL -> NULL is unchanged.  Pinned against a
    DuckDB IS DISTINCT FROM differential — the entry oracle uses the
    same predicate, and the star fixture never exercises NULLs here, so
    this crafted case is the real guard (asof_tolerance lesson)."""
    import duckdb

    from tidier_spark.operators.merge import snapshot_diff

    old_rows = [(1, 5.0), (2, None), (3, 7.0), (4, None)]
    new_rows = [(1, None), (2, None), (3, 7.0), (5, 1.0)]
    old = spark.createDataFrame(old_rows, "k long, v double")
    new = spark.createDataFrame(new_rows, "k long, v double")
    got = {(r["k"], r["change"]) for r in snapshot_diff(old, new, "k").collect()}

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE o(k BIGINT, v DOUBLE)")
        con.execute("CREATE TABLE n(k BIGINT, v DOUBLE)")
        con.executemany("INSERT INTO o VALUES (?, ?)", old_rows)
        con.executemany("INSERT INTO n VALUES (?, ?)", new_rows)
        want = {
            tuple(r)
            for r in con.execute(
                """
                SELECT coalesce(o.k, n.k) AS k,
                       CASE WHEN o.k IS NULL THEN 'insert'
                            WHEN n.k IS NULL THEN 'delete'
                            WHEN o.v IS DISTINCT FROM n.v THEN 'update'
                       END AS change
                FROM o FULL OUTER JOIN n USING (k)
                """
            ).fetchall()
            if r[1] is not None
        }
    finally:
        con.close()
    assert got == want == {(1, "update"), (4, "delete"), (5, "insert")}


def test_null_value_parity_crafted_data(spark):
    """The star fixtures contain ZERO NULLs (verified), so every NULL
    branch in the board is fixture-blind.  Pin Spark↔DuckDB parity on
    crafted NULL-bearing data for the operators whose mirrors branch on
    values: winsorize, robust_outliers, histogram, event_transitions,
    profile_table."""
    import datetime

    import duckdb

    from tidier_spark.operators.profile import (
        event_transitions,
        event_transitions_sql,
        histogram,
        histogram_sql,
        profile_sql,
        profile_table,
    )
    from tidier_spark.operators.quality import (
        robust_outliers,
        robust_outliers_sql,
        winsorize,
        winsorize_sql,
    )

    con = duckdb.connect()

    def canon(rows_):
        return sorted(
            tuple(
                None if x is None else round(x, 9) if isinstance(x, float) else x
                for x in r
            )
            for r in rows_
        )

    try:
        rows = [(i, "g", float(i) if i % 4 else None) for i in range(1, 21)]
        df = spark.createDataFrame(rows, "id long, g string, v double")
        con.execute("CREATE TABLE t(id BIGINT, g VARCHAR, v DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
        assert canon(
            tuple(r)
            for r in winsorize(
                df, "v", by="g", lower=0.1, upper=0.9, id_cols=["id"]
            ).collect()
        ) == canon(
            tuple(r)
            for r in con.execute(winsorize_sql("t", "v", "g", 0.1, 0.9, ["id"])).fetchall()
        )
        assert canon(
            tuple(r)
            for r in robust_outliers(df, "v", by="g", id_cols=["id"]).collect()
        ) == canon(
            tuple(r)
            for r in con.execute(robust_outliers_sql("t", "v", "g", 3.5, ["id"])).fetchall()
        )

        hrows = [(float(i),) if i % 3 else (None,) for i in range(20)]
        hdf = spark.createDataFrame(hrows, "v double")
        con.execute("CREATE TABLE h(v DOUBLE)")
        con.executemany("INSERT INTO h VALUES (?)", hrows)
        assert canon(
            tuple(r) for r in histogram(hdf, "v", 0.0, 20.0, 4).collect()
        ) == canon(
            tuple(r)
            for r in con.execute(histogram_sql("h", "v", 0.0, 20.0, 4)).fetchall()
        )

        t0 = datetime.datetime(2020, 1, 1)
        trows = [
            (1, t0, None, 1),
            (1, t0 + datetime.timedelta(minutes=1), "b", 2),
            (1, t0 + datetime.timedelta(minutes=2), None, 3),
            (2, t0, "x", 4),
            (2, t0 + datetime.timedelta(minutes=1), "x", 5),
        ]
        tdf = spark.createDataFrame(trows, "u long, ts timestamp, s string, e long")
        con.execute("CREATE TABLE tr(u BIGINT, ts TIMESTAMP, s VARCHAR, e BIGINT)")
        con.executemany("INSERT INTO tr VALUES (?,?,?,?)", trows)
        assert canon(
            tuple(r) for r in event_transitions(tdf, "u", "ts", "s", "e").collect()
        ) == canon(
            tuple(r)
            for r in con.execute(event_transitions_sql("tr", "u", "ts", "s", "e")).fetchall()
        )
        assert canon(
            tuple(r) for r in profile_table(tdf.select("u", "s"), ["u", "s"]).collect()
        ) == canon(
            tuple(r)
            for r in con.execute(profile_sql("(SELECT u, s FROM tr)", ["u", "s"])).fetchall()
        )
    finally:
        con.close()


def test_unicode_fold_lower_token_parity(spark):
    """U+0130 (İ) is Unicode's only EXPANDING lowercase mapping: Java
    emits i+combining-dot (length grows), DuckDB's utf8proc emits 'i' —
    without fold_lower the engines tokenize Turkish text differently and
    disagree on post-lower lengths.  ASCII fixtures never exercise this;
    pin parity on crafted multilingual text."""
    import duckdb

    from tidier_spark.operators.text import (
        punct_ratio,
        tokens,
        tokens_sql,
        quality_sql_columns,
    )

    texts = [
        "İstanbul İSTANBUL ıİi",
        "héllo wörld",
        "你好 abc 123",
        "ẞharp STRASSE Straße",
        "Kelvin KELVIN",
        "fi ligature ﬁne",
        "ǅungla Ǆ ǆ",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    s_tok = {
        r["id"]: list(r["toks"])
        for r in df.select("id", tokens("text").alias("toks")).collect()
    }
    s_punct = {
        r["id"]: round(r["p"], 9)
        for r in df.select("id", punct_ratio("text").alias("p")).collect()
    }
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE d(id BIGINT, text VARCHAR)")
        con.executemany(
            "INSERT INTO d VALUES (?,?)", [(i, t) for i, t in enumerate(texts)]
        )
        punct_sql = quality_sql_columns("text")["punct_ratio"]
        d = {
            r[0]: (list(r[1]), round(r[2], 9))
            for r in con.execute(
                f"SELECT id, {tokens_sql('text')}, {punct_sql} FROM d"
            ).fetchall()
        }
    finally:
        con.close()
    for i, t in enumerate(texts):
        assert s_tok[i] == d[i][0], (t, s_tok[i], d[i][0])
        assert s_punct[i] == d[i][1], (t, s_punct[i], d[i][1])


def test_histogram_nan_inf_parity(spark):
    """NaN is not binnable (Spark's non-ANSI NaN→long cast lands bin 0,
    DuckDB's clamp lands the top bin) — both engines must EXCLUDE it;
    ±Inf clamp into edge bins consistently."""
    import duckdb

    from tidier_spark.operators.profile import histogram, histogram_sql

    nan, inf = float("nan"), float("inf")
    rows = [("g", 1.0), ("g", 2.0), ("g", nan), ("g", -0.0), ("g", 0.0),
            ("g", inf), ("g", -inf)]
    df = spark.createDataFrame(rows, "g string, v double")
    hs = {r["bin"]: r["n"] for r in histogram(df, "v", 0.0, 4.0, 2).collect()}
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t(g VARCHAR, v DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?,?)", rows)
        hd = {r[0]: r[3] for r in con.execute(histogram_sql("t", "v", 0.0, 4.0, 2)).fetchall()}
    finally:
        con.close()
    assert hs == hd == {0: 4, 1: 2}


def test_pii_regex_parity_edge_inputs(spark):
    """Java regex (Spark) vs RE2 (DuckDB) parity for the PII patterns on
    the inputs where the engines could plausibly differ: \\b boundaries
    against underscores, Arabic-Indic digits, unicode domains, ASCII-\\d
    semantics, separator variants."""
    import duckdb

    from tidier_spark.operators.pii import scrub_pii, scrub_pii_sql

    texts = [
        "mail a.b_c%d+e@sub.domain.co then ١٢٣-456-7890",
        "x123-456-7890y and _555-123-4567_",
        "ip 999.1.2.3 and 10.0.0.1x and .1.2.3.4",
        "émail unicode@dömain.com piece",
        "a@b.co a@b.c double @@ a..b@c.de",
        "phone 555.123.4567 555 123 4567 555-123-4567",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    s = {
        r["id"]: (r["n_email"], r["n_phone"], r["n_ipv4"], r["text_scrubbed"])
        for r in scrub_pii(df, "text").collect()
    }
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE d(id BIGINT, text VARCHAR)")
        con.executemany(
            "INSERT INTO d VALUES (?,?)", [(i, t) for i, t in enumerate(texts)]
        )
        e = scrub_pii_sql("text")
        d = {
            r[0]: (r[1], r[2], r[3], r[4])
            for r in con.execute(
                f"SELECT id, {e['n_email']}, {e['n_phone']}, {e['n_ipv4']},"
                f" {e['scrubbed']} FROM d"
            ).fetchall()
        }
    finally:
        con.close()
    assert s == d


def test_star_cc_matches_minlabel_on_random_graphs(spark):
    """Alternating large-star/small-star must produce exactly the same
    component labels as min-label propagation on arbitrary graphs —
    including duplicate edges, both orientations, self-loops, and
    isolated nodes."""
    import random

    from tidier_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(5)
    for trial in range(4):
        n = 30
        m = rng.randrange(0, 50)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ] + [(7, 7)]  # self-loop must be inert
        nodes = spark.range(n).select(F.col("id"))
        e = spark.createDataFrame(
            edges or [(0, 0)], "id_a long, id_b long"
        )
        if not edges:
            e = e.limit(0)
        a = {
            r["id"]: r["cluster_id"]
            for r in connected_components(e, nodes).collect()
        }
        b = {
            r["id"]: r["cluster_id"]
            for r in connected_components_star(e, nodes).collect()
        }
        assert a == b, f"trial {trial}: {a} != {b}"


def test_star_cc_long_chain_converges_in_log_rounds(spark):
    """A 200-node path (diameter 199) — the regime min-label's
    O(diameter) rounds cannot handle within its default budget — must
    fully collapse to one component in O(log n) star rounds."""
    from tidier_spark.operators.graph import connected_components_star

    n = 200
    nodes = spark.range(n).select(F.col("id"))
    chain = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    got = connected_components_star(chain, nodes, max_iter=12).collect()
    assert all(r["cluster_id"] == 0 for r in got) and len(got) == n


def _path(spark, n):
    nodes = spark.range(n).select(F.col("id"))
    chain = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    return chain, nodes


def test_min_label_cc_fails_loud_without_fixpoint(spark):
    """A 12-node path needs ~12 min-label rounds: 3 end before the
    fixpoint and must raise, not return half-propagated labels."""
    from tidier_spark.operators.graph import connected_components

    chain, nodes = _path(spark, 12)
    with pytest.raises(RuntimeError, match=r"connected_components: no fixpoint within max_iter=3 .*label sum \d+ -> \d+"):
        connected_components(chain, nodes, max_iter=3)
    got = connected_components(chain, nodes).collect()
    assert {r["cluster_id"] for r in got} == {0} and len(got) == 12


def test_star_cc_fails_loud_without_fixpoint(spark):
    from tidier_spark.operators.graph import connected_components_star

    chain, nodes = _path(spark, 200)
    with pytest.raises(RuntimeError, match=r"connected_components_star: no fixpoint within max_iter=2 "):
        connected_components_star(chain, nodes, max_iter=2)


def test_star_cc_empty_and_isolated(spark):
    from tidier_spark.operators.graph import connected_components_star

    nodes = spark.range(5).select(F.col("id"))
    empty = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components_star(empty, nodes).collect()
    }
    assert got == {i: i for i in range(5)}


def test_stream_running_distinct_multi_batch_matches_batch(spark, tmp_path):
    # Value set must CARRY across micro-batches: 'a' seen in batch 1
    # must not re-count in batch 2; NULL values emit rows but add
    # nothing (SQL count(DISTINCT) semantics on both paths).
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tidier_spark.operators.temporal import rolling_distinct
    from tidier_spark.streaming import run_stream, stream_running_distinct

    base = 1_700_000_000_000_000
    vals = ["a", "b", None, "a", "c", "b", "d", None, "a", "e"]
    rows = [(1, base + i * 60_000_000, i, vals[i]) for i in range(len(vals))]
    src = tmp_path / "dsrc"
    src.mkdir()
    for bi, chunk in enumerate((rows[:4], rows[4:])):
        t = pa.table({
            "user_id": [r[0] for r in chunk],
            "ts": pa.array([r[1] for r in chunk], type=pa.timestamp("us")),
            "event_id": [r[2] for r in chunk],
            "event_type": pa.array([r[3] for r in chunk], type=pa.string()),
        })
        pq.write_table(t, src / f"b{bi}.parquet")
    now = _time.time()
    _os.utime(src / "b0.parquet", (now - 60, now - 60))
    _os.utime(src / "b1.parquet", (now, now))

    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = stream_running_distinct(
        stream, key_col="user_id", time_col="ts",
        value_col="event_type", tiebreak_col="event_id",
    )
    res = run_stream(out, name="t_stream_rdist_mb", output_mode="append")
    got = sorted(
        (r["key"], r["ts_us"], r["tb"], r["dcum"]) for r in res.collect()
    )
    bdf = spark.createDataFrame(
        rows, "user_id long, us long, event_id long, event_type string"
    ).selectExpr("user_id", "timestamp_micros(us) AS ts", "event_id", "event_type")
    want = sorted(
        (r["user_id"], r["us"], r["event_id"], r["dcum"])
        for r in rolling_distinct(
            bdf.withColumn("us", F.unix_micros("ts")),
            "event_type", by="user_id", order_by=["ts", "event_id"],
            frame_rows=2,
        ).collect()
    )
    assert got == want and len(got) == 10
    # hand-check the NULL rows and the cross-batch carry
    by_tb = {tb: d for (_k, _t, tb, d) in got}
    assert by_tb[2] == 2   # NULL after a,b
    assert by_tb[3] == 2   # 'a' again -> no increment
    assert by_tb[4] == 3   # 'c' arrives in batch 2, set carried
    assert by_tb[9] == 5


def test_stream_running_distinct_multi_arrow_chunk_group(spark, tmp_path):
    """ADVICE r06: a key whose micro-batch spans multiple Arrow chunks
    (> spark.sql.execution.arrow.maxRecordsPerBatch) must be ordered
    GLOBALLY by (time, tiebreak), not per chunk — per-chunk sorting
    silently diverges from the batch count(DISTINCT) OVER definition.
    Force 2-row chunks and feed one key's 10 events in REVERSE time
    order, so any per-chunk sort would process late events first."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tidier_spark.operators.temporal import rolling_distinct
    from tidier_spark.streaming import run_stream, stream_running_distinct

    base = 1_700_000_000_000_000
    vals = ["a", "b", None, "a", "c", "b", "d", None, "a", "e"]
    rows = [(1, base + i * 60_000_000, i, vals[i]) for i in range(len(vals))]
    src = tmp_path / "dsrc_chunks"
    src.mkdir()
    rev = rows[::-1]  # reverse arrival order within the ONE micro-batch
    t = pa.table({
        "user_id": [r[0] for r in rev],
        "ts": pa.array([r[1] for r in rev], type=pa.timestamp("us")),
        "event_id": [r[2] for r in rev],
        "event_type": pa.array([r[3] for r in rev], type=pa.string()),
    })
    pq.write_table(t, src / "b0.parquet")

    saved = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, event_type string"
        ).parquet(str(src))
        out = stream_running_distinct(
            stream, key_col="user_id", time_col="ts",
            value_col="event_type", tiebreak_col="event_id",
        )
        res = run_stream(out, name="t_stream_rdist_chunks", output_mode="append")
        got = sorted(
            (r["key"], r["ts_us"], r["tb"], r["dcum"]) for r in res.collect()
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", saved)
    bdf = spark.createDataFrame(
        rows, "user_id long, us long, event_id long, event_type string"
    ).selectExpr("user_id", "timestamp_micros(us) AS ts", "event_id", "event_type")
    want = sorted(
        (r["user_id"], r["us"], r["event_id"], r["dcum"])
        for r in rolling_distinct(
            bdf.withColumn("us", F.unix_micros("ts")),
            "event_type", by="user_id", order_by=["ts", "event_id"],
            frame_rows=2,
        ).collect()
    )
    assert got == want and len(got) == 10


def test_cosine_topk_excludes_zero_norm_vectors(spark):
    # cosine is UNDEFINED for the zero vector (0/0): it must appear as
    # neither query nor neighbor — the SQL-NULL-style exclusion the
    # zerovec edge axis pins board-wide — and the remaining vectors'
    # ranking must be unaffected.
    from tidier_spark.operators.similarity import cosine_topk

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 1.0]),
        (4, [0.0, 0.0]),  # zero norm -> excluded
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = cosine_topk(df, k=3).collect()
    ids = {r["query_id"] for r in got} | {r["neighbor_id"] for r in got}
    assert 4 not in ids
    assert {r["query_id"] for r in got} == {1, 2, 3}
    # each surviving query ranks exactly the other two survivors
    from collections import Counter

    assert Counter(r["query_id"] for r in got) == {1: 2, 2: 2, 3: 2}


@pytest.mark.parametrize("n_clusters", [1, 2])
def test_semantic_dedup_excludes_null_and_zero_vectors(spark, n_clusters):
    # the cosine-metric contract of every operator: NULL and zero-norm
    # vectors are excluded, so SemDeDup's pairs equal the exact operator's
    # (a NULL row used to break the quantizer's numpy stack)
    from tidier_spark.operators.dedup import (
        embedding_near_dup,
        semantic_dedup_pairs,
    )

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.99, 0.01]),
        (3, [0.0, 1.0]),
        (4, [0.0, 0.0]),  # zero norm -> excluded
        (5, None),  # NULL -> excluded
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    want = sorted(map(tuple, embedding_near_dup(df, threshold=0.9).collect()))
    assert want == [(1, 2, 0.999949)]
    got = semantic_dedup_pairs(df, threshold=0.9, n_clusters=n_clusters)
    assert sorted(map(tuple, got.collect())) == want


def test_triangle_count_hand_graph(spark):
    # 4-clique on {1,2,3,4}: C(4,3)=4 triangles, each node in 3;
    # pendant chain 4-5-6 adds no triangle; edges are id_a < id_b
    # canonical (the near_dup_pairs contract).
    from itertools import combinations

    from tidier_spark.operators.graph import triangle_count

    edges = list(combinations([1, 2, 3, 4], 2)) + [(4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {(r["id"], r["n_tri"]) for r in triangle_count(df).collect()}
    assert got == {(1, 3), (2, 3), (3, 3), (4, 3)}


def test_token_entropy_hand_values_and_duckdb(spark):
    """Floor-log2 entropy on crafted docs: a uniform-repetition doc has 0
    bits; 4 distinct singletons have bitlen(4)-bitlen(1)=2 bits/token;
    NULL/token-free docs keep the (0,0,0,NULL) house convention.  Also a
    live DuckDB differential via the SQL mirror."""
    import duckdb

    from tidier_spark.operators.text import token_entropy, token_entropy_sql

    rows = [
        (1, "a a a a"),        # n=4, one token: entropy 0
        (2, "a b c d"),        # 4 singletons: 4*(bitlen(4)-bitlen(1)) = 8
        (3, "a a b b"),        # 2 tokens x2: 4*(3-2) = 4 -> 1.0 bits
        (4, None),             # token-free
        (5, "!!!"),            # tokenless after tokenize
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_distinct"], r["entropy_bits_num"],
            r["bits_per_token"],
        )
        for r in token_entropy(df).collect()
    }
    assert got[1] == (4, 1, 0, 0.0)
    assert got[2] == (4, 4, 8, 2.0)
    assert got[3] == (4, 2, 4, 1.0)
    assert got[4] == (0, 0, 0, None)
    assert got[5] == (0, 0, 0, None)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, 'a a a a'), (2, 'a b c d'), (3, 'a a b b'), (4, NULL), (5, '!!!')"
        ") t(doc_id, text)"
    )
    odf = con.execute(token_entropy_sql()).df()
    want = {
        int(r.doc_id): (
            int(r.n_tokens), int(r.n_distinct), int(r.entropy_bits_num),
            None if r.bits_per_token != r.bits_per_token else float(r.bits_per_token),
        )
        for r in odf.itertuples()
    }
    assert want == got


def test_source_kl_drift_single_source_is_zero(spark):
    # one source == the corpus: c_st == c_t and n_s == n, so every term
    # cancels — drift must be exactly 0 regardless of content
    from tidier_spark.operators.text import source_kl_drift

    rows = [(i, f"tok{i % 7} common words here", "web") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = source_kl_drift(df).collect()
    assert len(got) == 1
    assert got[0]["drift_bits_num"] == 0 and got[0]["drift_bits"] == 0.0


def test_vocab_jaccard_hand_overlap(spark):
    from tidier_spark.operators.text import vocab_jaccard

    rows = [
        (1, "a b c", "s1"),
        (2, "b c d", "s2"),
        (3, "x y", "s3"),   # no overlap with s1/s2 -> pairs omitted
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r["source_a"], r["source_b"]): (
            r["n_a"], r["n_b"], r["n_inter"], r["jaccard"]
        )
        for r in vocab_jaccard(df).collect()
    }
    assert got == {("s1", "s2"): (3, 3, 2, 0.5)}


def test_nullvals_contracts_text_family(spark):
    """NULL text is token-free on both engines (nullvals edge axis):
    counts coalesce to 0, signatures to the documented empty value,
    csv/clean_text to '' — never NULL-vs-0 engine splits."""
    from tidier_spark.operators.bpe import bpe_apply, bpe_encode
    from tidier_spark.operators.corpus import chunk_documents
    from tidier_spark.operators.dedup import excise_duplicate_regions, simhash
    from tidier_spark.operators.quality import classifier_score, srp_embedding

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None)], "doc_id long, text string"
    )
    cs = {r["doc_id"]: (r["score_milli"], r["label"])
          for r in classifier_score(df).collect()}
    assert cs[2] == (0, False)
    assert chunk_documents(df).where("doc_id = 2").count() == 0
    sh = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert sh[2] == 0
    ba = {r["doc_id"]: r["n_subwords"] for r in bpe_apply(df, [("h", "e")]).collect()}
    assert ba[2] == 0
    be = {r["doc_id"]: (r["n_subwords"], r["ids_csv"])
          for r in bpe_encode(df, [("h", "e")], ["h", "e", "l", "o", "w", "r", "d"]).collect()}
    assert be[2] == (0, "")
    er = {r["doc_id"]: (r["n_tokens"], r["n_covered"], r["clean_text"])
          for r in excise_duplicate_regions(df, gram_tokens=2, min_count=2).collect()}
    assert er[2] == (0, 0, "")
    srp = srp_embedding(df, dim=4).where("doc_id = 2").collect()
    assert [r["value"] for r in srp] == [0, 0, 0, 0]


def test_nullvals_contracts_vector_family(spark):
    """NULL vectors are excluded from vector operators on both engines
    (the zerovec contract extended by the nullvals axis); trainers with
    zero usable vectors fail with the NAMED empty-corpus error, never a
    numpy stack trace."""
    import pytest

    from tidier_spark.operators.dedup import (
        embedding_near_dup,
        embedding_near_dup_lsh,
    )
    from tidier_spark.operators.quality import perceptron_fit
    from tidier_spark.operators.similarity import kmeans_fit, label_centroids

    mixed = spark.createDataFrame(
        [(1, [1.0, 0.0], 1), (2, [0.9, 0.1], 1), (3, None, 2)],
        "vec_id long, embedding array<float>, label int",
    )
    # mixed NULLs: excluded, not crashed
    assert embedding_near_dup(mixed, threshold=0.5).count() == 1  # (1,2)
    pairs = embedding_near_dup_lsh(mixed, threshold=0.5, n_dims=2).collect()
    assert all({r["id_a"], r["id_b"]} <= {1, 2} for r in pairs)
    lc = label_centroids(mixed)
    assert lc.where("label = 2").count() == 0
    assert kmeans_fit(mixed, k=2, iters=1).count() == 2
    assert perceptron_fit(mixed, iters=1).count() == 2
    allnull = spark.createDataFrame(
        [(1, None, 1), (2, None, 2)],
        "vec_id long, embedding array<float>, label int",
    )
    with pytest.raises(ValueError, match="input DataFrame is empty"):
        kmeans_fit(allnull, k=2, iters=1)
    with pytest.raises(ValueError, match="input DataFrame is empty"):
        perceptron_fit(allnull, iters=1)


def test_nullvals_contracts_payload_and_sketch(spark):
    """NULL payloads decode to NULL features (one corrupt media row must
    not kill the job); a KLL cell with zero non-NULL values emits no
    partial instead of an empty sketch buffer."""
    from pyspark.sql import functions as F

    from tidier_spark.operators.multimodal import extract_features
    from tidier_spark.operators.sketches import (
        kll_merged_quantiles,
        kll_partials,
    )

    media = spark.createDataFrame(
        [(1, "text", bytearray(b"abc")), (2, "text", None)],
        "media_id long, modality string, payload binary",
    )
    feats = {r["media_id"]: (r["n_bytes"], r["width"])
             for r in extract_features(media).collect()}
    assert feats[1][0] == 3 and feats[1][1] is not None
    assert feats[2] == (None, None)
    vals = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", None)], "g string, v long"
    )
    parts = kll_partials(vals, "v", by="g")
    assert [r["g"] for r in parts.collect()] == ["a"]
    merged = kll_merged_quantiles(parts, [0.5], by="g").collect()
    assert len(merged) == 1 and merged[0]["g"] == "a"


def test_hll_trailing_distinct_day_gaps(spark):
    """Trailing-7-day distinct via merged per-day HLL partials: the RANGE
    frame counts DAY distance (a 10-day gap must fall out of the window),
    and at these cardinalities the sketch is exact — pin the values."""
    from pyspark.sql import functions as F

    from tidier_spark.operators.sketches import hll_trailing_distinct

    base = 1_700_000_000_000_000
    day = 86_400_000_000
    rows = []
    # day 0: users 1,2; day 1: users 2,3; day 20: user 9
    for d, us in ((0, (1, 2)), (1, (2, 3)), (20, (9,))):
        for u in us:
            rows.append((u, base + d * day))
    df = spark.createDataFrame(rows, "user_id long, us long").select(
        "user_id", F.timestamp_micros(F.col("us")).alias("ts")
    )
    out = hll_trailing_distinct(
        df, "user_id", time_col="ts", window_days=7
    ).collect()
    d0 = min(r["day_us"] for r in out)  # events start mid-day; truncation
    got = {(r["day_us"] - d0) // day: r["approx_trailing"] for r in out}
    assert got == {0: 2, 1: 3, 20: 1}  # day 20: gap > 7 days, window resets


def test_fingerprint_empty_vs_null_text(spark):
    """Tokenless-but-NON-NULL docs fingerprint as md5('') — all empty
    docs are content-identical and must group in exact dedup — while
    NULL text stays NULL; DuckDB mirror agrees (emptystr edge axis:
    DuckDB array_to_string([]) is NULL where Spark array_join is '')."""
    import hashlib

    import duckdb

    from tidier_spark.operators.text import fingerprint, fingerprint_sql

    df = spark.createDataFrame(
        [(1, ""), (2, "!!!"), (3, None), (4, "a b")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", fingerprint("text").alias("fp")).collect()
    }
    empty_md5 = hashlib.md5(b"").hexdigest()
    assert got[1] == got[2] == empty_md5
    assert got[3] is None
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES (1, ''), (2, '!!!'), "
        "(3, NULL), (4, 'a b')) v(doc_id, text)"
    )
    want = dict(
        con.execute(
            f"SELECT doc_id, {fingerprint_sql('text')} FROM t"
        ).fetchall()
    )
    assert want == got


def test_stream_windowed_approx_distinct_multi_batch(spark, tmp_path):
    """Windowed approx_count_distinct through the streaming engine over
    TWO micro-batches must equal the batch estimate on the same data —
    HLL register max-merge is order- and batch-split-independent."""
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from tidier_spark.streaming import run_stream, stream_windowed_agg

    base = 1_700_000_000_000_000
    rows = [(u, base + i * 3_600_000_000) for i, u in enumerate(
        [1, 2, 3, 1, 2, 9, 9, 4, 5, 1]
    )]
    src = tmp_path / "hllsrc"
    src.mkdir()
    for bi, chunk in enumerate((rows[:5], rows[5:])):
        t = pa.table({
            "user_id": [r[0] for r in chunk],
            "ts": pa.array([r[1] for r in chunk], type=pa.timestamp("us")),
        })
        pq.write_table(t, src / f"b{bi}.parquet")
    now = _time.time()
    _os.utime(src / "b0.parquet", (now - 60, now - 60))
    _os.utime(src / "b1.parquet", (now, now))
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    r = stream_windowed_agg(
        stream, {"n_approx": "approx_count_distinct(user_id)"},
        time_col="ts", window="1 day",
    )
    out = run_stream(r, name="t_stream_hll_mb", output_mode="complete")
    got = {
        r2["window_start"]: r2["n_approx"] for r2 in out.collect()
    }
    bdf = spark.createDataFrame(rows, "user_id long, us long").select(
        "user_id", F.timestamp_micros("us").alias("ts")
    )
    want = {
        r2["w"]["start"]: r2["n"]
        for r2 in bdf.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.approx_count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == want and sum(got.values()) >= 6


def test_session_helper_pins_benched_config():
    """The engine config is library surface (`tidier_spark.session`), and
    every session in the repo is built through it, so the tests, the
    oracle checker, the bench and the scripts all run the engine that
    ships.  Pins (a) the exact recommended keys, (b) that no tracked
    Python file outside ``tidier_spark/session.py`` builds its own
    session, (c) the local shuffle-width rule."""
    import os
    import re
    import subprocess

    from tidier_spark.session import recommended_conf, shuffle_partitions

    assert recommended_conf() == {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.codegen.cache.maxEntries": "2048",
    }
    # a fresh dict each call — callers may mutate their copy freely
    c = recommended_conf()
    c["spark.sql.adaptive.enabled"] = "false"
    assert recommended_conf()["spark.sql.adaptive.enabled"] == "true"
    assert shuffle_partitions(32) == 32
    assert shuffle_partitions(4) == 8  # floor for tiny boxes
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tracked = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=root, check=True,
        capture_output=True, text=True,
    ).stdout.split()
    own_session = re.compile(r"SparkSession\s*\.\s*builder")
    building = []
    for rel in tracked:
        with open(os.path.join(root, rel), encoding="utf-8") as fh:
            if own_session.search(fh.read()):
                building.append(rel)
    assert building == ["tidier_spark/session.py"], building


def test_session_warns_on_a_setting_it_could_not_apply(spark):
    """``getOrCreate`` on a running session keeps the live value of a
    static SQL conf; ``session()`` says so instead of dropping it."""
    import warnings

    from tidier_spark.session import session

    key = "spark.sql.codegen.cache.maxEntries"
    live = spark.conf.get(key)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = session(extra_conf={key: "7"})
    assert got is spark
    assert spark.conf.get(key) == live
    messages = [str(w.message) for w in caught]
    assert any(key in m and repr(live) in m for m in messages), messages


def test_fan_out_spreads_a_single_small_file(spark, sf_dir):
    """The fixture ``documents`` scan is one small file (one input split),
    so ``_fan_out`` repartitions it to ``defaultParallelism`` — also when
    a column alias contains the word "Repartition"."""
    from tidier_spark.sources import read_table

    par = spark.sparkContext.defaultParallelism
    docs = read_table(spark, sf_dir, "documents")
    assert len(docs.inputFiles()) == 1
    aliased = docs.select(F.col(docs.columns[0]).alias("Repartition"))
    for df in (docs, aliased):
        out = text._fan_out(df)
        assert out is not df and out.rdd.getNumPartitions() == par


def test_fan_out_leaves_repartitioned_input(spark, sf_dir):
    from tidier_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    key = docs.columns[0]
    for df in (
        docs.repartition(2),
        docs.repartition(2, key).select(key),
    ):
        assert text._fan_out(df) is df


@pytest.mark.parametrize("dirname", ["plain", "with space"])
def test_fan_out_leaves_a_scan_with_enough_splits(spark, sf_dir, tmp_path, dirname):
    """With a small ``maxPartitionBytes`` the one file scans as more
    splits than ``defaultParallelism``; the estimate comes from statting
    the file, which must work for a percent-encoded path too."""
    import shutil

    src = tmp_path / dirname
    src.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", src / "documents.parquet")
    df = spark.read.parquet(str(src))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        assert text._fan_out(df) is df
    finally:
        spark.conf.set(key, old)
