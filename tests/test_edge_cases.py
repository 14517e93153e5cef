"""Empty/degenerate-input behavior: operators must return empty (typed)
results, never throw — the reference's empty-result guard generalized
(fitbit_utils.py:270-277)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fitness_data_ingest_spark.ext import dedup as D
from fitness_data_ingest_spark.ext import text as TX
from fitness_data_ingest_spark.ops import scale as SK
from fitness_data_ingest_spark.ops.relational import asof_join, union_all


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_on_empty_corpus(spark):
    out = D.minhash_near_dups(_docs(spark, []), "doc_id", "text")
    assert out.count() == 0
    assert out.columns == ["doc_a", "doc_b", "jaccard"]


def test_minhash_single_doc_no_pairs(spark):
    out = D.minhash_near_dups(_docs(spark, [(1, "only one document here")]), "doc_id", "text")
    assert out.count() == 0


def test_shingles_shorter_than_k(spark):
    """Docs shorter than the shingle size collapse to one whole-text
    shingle instead of an empty set (division-by-zero guard in jaccard)."""
    docs = _docs(spark, [(1, "two words"), (2, "two words"), (3, "x")])
    out = D.minhash_near_dups(docs, "doc_id", "text", threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in out] == [(1, 2, 1.0)]


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    assert D.connected_components(edges).count() == 0


def test_empty_text_quality_and_tokens(spark):
    docs = _docs(spark, [(1, ""), (2, "   "), (3, "real text here")])
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("t"))
    got = {r["doc_id"]: r["t"] for r in toks.collect()}
    assert got[1] == [] and got[2] == []
    # tfidf simply drops token-less docs
    out = TX.tfidf(docs, "doc_id", "text", min_df=1)
    assert {r["doc"] for r in out.collect()} == {3}


def test_asof_join_empty_right(spark):
    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 00:00:00")], "user_id long, p_id long, p_ts string"
    ).withColumn("p_ts", F.to_timestamp("p_ts"))
    right = spark.createDataFrame([], "user_id long, c_id long, c_ts timestamp")
    out = asof_join(left, right, "user_id", "p_ts", "c_ts", "p_id", "c_id").collect()
    assert len(out) == 1 and out[0]["c_id"] is None


def test_salted_join_empty_small_side(spark):
    big = spark.createDataFrame([(1,), (2,)], "k long")
    small = spark.createDataFrame([], "sk long")
    assert SK.salted_join(big, small, "k", "sk").count() == 0
    assert SK.salted_join(big, small, "k", "sk", how="left").count() == 2


def test_union_all_single_frame(spark):
    df = spark.createDataFrame([(1,)], "k long")
    assert union_all([df]).count() == 1


def test_new_ops_survive_empty_inputs(spark):
    """Empty-relation paths through the late-round operators: AQE
    collapses empty branches aggressively, which has broken window/
    aggregate combinations before — every operator must return an
    empty (or identity) result, never throw."""
    from pyspark.sql import functions as F

    from fitness_data_ingest_spark.io import compaction_plan
    from fitness_data_ingest_spark.ops.incremental import merge_agg_states
    from fitness_data_ingest_spark.ops.scale import ranked_topk

    empty_kv = spark.createDataFrame([], "k long, v long")
    # ranked_topk of nothing -> no rows (the size>0 filter guards the
    # posexplode of the empty collect_list)
    assert ranked_topk(empty_kv, [("v", "desc"), ("k", "asc")], 5).count() == 0
    # merge with an empty delta -> base passes through unchanged
    base = spark.createDataFrame([(1, 2, 10)], "k long, n long, s long")
    empty_state = spark.createDataFrame([], "k long, n long, s long")
    merged = merge_agg_states(
        base, empty_state, ["k"], {"n": "count", "s": "sum"}
    )
    assert sorted(map(tuple, merged.collect())) == [(1, 2, 10)]
    # compaction plan over an empty manifest -> empty plan
    empty_manifest = spark.createDataFrame([], "grp string, unit string, w long")
    assert compaction_plan(empty_manifest, "grp", "unit", "w", 10).count() == 0


def _events_empty(spark):
    return spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, value double"
    )


def test_sessionize_empty_and_single(spark):
    from fitness_data_ingest_spark.ops import timeseries as TS
    import datetime

    assert TS.sessionize(_events_empty(spark)).count() == 0
    one = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 7, 5.0)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    rows = TS.sessionize(one).collect()
    assert len(rows) == 1 and rows[0]["n_events"] == 1 and rows[0]["dur_s"] == 0


def test_ewma_empty_and_single(spark):
    from fitness_data_ingest_spark.ops import timeseries as TS
    import datetime

    assert TS.ewma_trunc(_events_empty(spark)).count() == 0
    one = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 7, 5.0)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    rows = TS.ewma_trunc(one).collect()
    assert rows[0]["n_terms"] == 1 and rows[0]["ewma4"] == 5.0


def test_streaks_empty(spark):
    from fitness_data_ingest_spark.ops import timeseries as TS

    assert TS.activity_streaks(_events_empty(spark)).count() == 0


def test_grouped_topk_empty(spark):
    docs = spark.createDataFrame([], "doc_id long, source string")
    out = SK.grouped_topk(docs, "source", [("doc_id", "asc")], 5)
    assert out.count() == 0


def test_distributed_rank_single_bucket_and_empty(spark):
    empty = spark.createDataFrame([], "v long, bkt int")
    assert SK.distributed_rank(empty, [("v", "asc")], "bkt", 8).count() == 0
    one_bucket = spark.createDataFrame(
        [(10, 0), (5, 0), (7, 0)], "v long, bkt int"
    )
    got = {
        r["v"]: r["rnk"]
        for r in SK.distributed_rank(one_bucket, [("v", "asc")], "bkt", 8).collect()
    }
    assert got == {5: 1, 7: 2, 10: 3}


def test_snapshot_diff_empty_new(spark):
    from fitness_data_ingest_spark.ops import incremental as INC

    old = spark.createDataFrame([(1, "a")], "k long, v string")
    new = spark.createDataFrame([], "k long, v string")
    rows = INC.snapshot_diff(old, new, "k", ["v"]).collect()
    assert [(r["k"], r["diff_class"]) for r in rows] == [(1, "R")]


def test_cdc_chunks_empty_and_whitespace_docs(spark):
    """ADVICE r3: zero-token docs made sequence(0, n-1) auto-step to
    [0, -1] and element_at(hs, 0) threw. Empty/whitespace docs must be
    skipped (zero chunks), not crash the whole stats pass."""
    from fitness_data_ingest_spark.ext import corpus as C2

    docs = spark.createDataFrame(
        [
            (1, "a", ""),
            (2, "a", "   "),
            (3, "a", "real tokens in this document right here"),
            (4, "b", None),
        ],
        "doc_id long, source string, text string",
    )
    rows = {r["source"]: r for r in C2.cdc_chunk_stats(docs).collect()}
    # sources whose only docs are token-less contribute nothing
    assert set(rows) == {"a"}
    assert rows["a"]["sum_tok"] == 7


def test_minhash_drops_zero_shingle_docs(spark):
    """ADVICE r3: the single-fold signature returns the sentinel init
    for empty shingle sets, so every token-less doc would share one
    signature and band-collide pairwise. with_minhash must drop them."""
    docs = _docs(spark, [(1, None), (2, None), (3, "one real document of text")])
    sigs = D.with_minhash(docs, "doc_id", "text")
    assert {r["doc"] for r in sigs.collect()} == {3}
    out = D.minhash_near_dups(docs, "doc_id", "text", threshold=0.0)
    assert out.count() == 0


def test_round4_ops_survive_empty_and_degenerate_inputs(spark):
    from fitness_data_ingest_spark.ops import timeseries as TS4

    empty = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    assert TS4.interpolate_linear(empty).count() == 0
    assert TS4.isotonic_fit(empty).count() == 0
    one = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, "view", 2.5)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    # single observation: the grid slot at its floor aligns exactly ->
    # interpolation returns the sample itself, no 0/0
    rows = TS4.interpolate_linear(one).collect()
    assert len(rows) == 1 and rows[0]["value_lin4"] == 2.5
    fit = TS4.isotonic_fit(one).collect()
    assert len(fit) == 1 and fit[0]["fitted4"] == 2.5


def test_attribution_handles_no_prior_click(spark):
    from pyspark.sql import Window

    # purchase before any click -> null credit; click at same ts with
    # LOWER event_id counts as strictly-before (event_id tiebreak)
    rows = [
        (1, "2024-01-01 00:00:00", 7, "purchase", 1.0),
        (2, "2024-01-01 00:10:00", 7, "click", 1.0),
        (3, "2024-01-01 00:20:00", 7, "purchase", 1.0),
        (4, "2024-01-01 00:20:00", 7, "click", 1.0),  # ties AFTER eid 3
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")), ignorenulls=True
    ).over(w)
    got = {
        r["event_id"]: r["cid"]
        for r in ev.select("event_id", "event_type", click_id.alias("cid"))
        .filter(F.col("event_type") == "purchase")
        .collect()
    }
    assert got[1] is None  # no prior click
    assert got[3] == 2  # same-ts click with higher eid NOT counted


def test_bpe_merges_empty_and_single_char_corpus(spark):
    from fitness_data_ingest_spark import registry_text as R4

    docs = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "y y")], "doc_id long, source string, text string"
    )
    # single-char words have no pairs; the operator must not crash.
    # Drive it through the registry callable with a temp-dir fixture.
    import os
    import tempfile
    d = tempfile.mkdtemp()
    docs.withColumn("lang", F.lit("en")).withColumn(
        "n_chars", F.length("text")
    ).select("doc_id", "text", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    out = R4._corpus_bpe_merges(spark, d).collect()
    # only 'y y' contributes pairs? no: pairs are WITHIN words (chars);
    # 'x' and 'y' are single-char -> zero pairs -> empty result
    assert out == []


def test_bpe_merges_are_token_aligned(spark):
    """A merged token's suffix colliding with a later pair must NOT
    merge across the token boundary: corpus yields merge-1 't h' and
    merge-2 'h e'; after merge 1 the word 'the' is ['th', 'e'], and a
    substring replace of 'h e' would corrupt it to 'the', erasing the
    'th e' pair that merge 3 must find (the old plain-replace form
    returned only 2 merges on this corpus)."""
    import os
    import tempfile

    from fitness_data_ingest_spark import registry_text as R4

    d = tempfile.mkdtemp()
    docs = spark.createDataFrame(
        [(1, "a", "th th th th the the he he")],
        "doc_id long, source string, text string",
    )
    docs.withColumn("lang", F.lit("en")).withColumn(
        "n_chars", F.length("text")
    ).select("doc_id", "text", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    # pure-python reference BPE (token-aligned, left-to-right
    # non-overlapping, ties by pair text ascending)
    def ref_bpe(word_freqs, n_merges):
        seqs = [(list(w), n) for w, n in word_freqs.items()]
        merges = []
        for _ in range(n_merges):
            counts = {}
            for toks, n in seqs:
                for a, b in zip(toks, toks[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + n
            if not counts:
                break
            # deterministic: max count, then lexicographically smallest pair
            best = max(counts.values())
            pair = min(p for p, c in counts.items() if c == best)
            merges.append((" ".join(pair), counts[pair]))
            merged = "".join(pair)
            new_seqs = []
            for toks, n in seqs:
                out, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and (toks[i], toks[i + 1]) == pair:
                        out.append(merged)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                new_seqs.append((out, n))
            seqs = new_seqs
        return merges

    freqs = {"th": 4, "the": 2, "he": 2}
    expect = ref_bpe(freqs, R4.BPE_MERGES)
    assert expect == [("t h", 6), ("h e", 2), ("th e", 2)]  # pin the scenario

    got = sorted(
        (r["merge_rank"], r["pair"], r["cnt"])
        for r in R4._corpus_bpe_merges(spark, d).collect()
    )
    assert got == [(k + 1, p, c) for k, (p, c) in enumerate(expect)]


def test_dim_asof_lookup_boundary_dates(spark):
    """An order exactly AT the version-2 cutover belongs to version 2
    (valid_from inclusive, valid_to exclusive)."""
    from fitness_data_ingest_spark import registry_relational as R4
    import tempfile, os

    d = tempfile.mkdtemp()
    cust = spark.createDataFrame([(3, "c3", 10.0)], "c_custkey long, c_name string, c_acctbal double")
    cust.write.mode("overwrite").parquet(os.path.join(d, "customer.parquet"))
    orders = spark.createDataFrame(
        [(1, 3, "1998-07-01 00:00:00"), (2, 3, "1998-06-30 23:59:59")],
        "o_orderkey long, o_custkey long, o_orderdate string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    orders.withColumn("o_orderstatus", F.lit("O")).withColumn(
        "o_totalprice", F.lit(1.0)
    ).withColumn("o_orderpriority", F.lit("1")).write.mode("overwrite").parquet(
        os.path.join(d, "orders.parquet")
    )
    got = {r["o_orderkey"]: (r["version"], r["bal2"]) for r in R4._dim_asof_lookup(spark, d).collect()}
    assert got[1] == (2, 510.0)   # at cutover -> v2
    assert got[2] == (1, 10.0)    # just before -> v1


def test_decay_score_full_cap_window_has_nonzero_weight(spark):
    """Every age inside DECAY_CAP_DAYS must carry a NONZERO weight: the
    old 1e6 shift unit underflowed to 0 at age 20, silently zeroing
    events aged 20-30 days (ADVICE r4). Two users, one with a single
    day-25 event, one with a single day-35 event: the first must score
    > 0, the second exactly 0."""
    import os
    import tempfile

    from fitness_data_ingest_spark import registry_events as R4

    d = tempfile.mkdtemp()
    ev = spark.createDataFrame(
        [
            (1, "2024-02-05 00:00:00", 10, "click", 100.0),  # age 25d
            (2, "2024-01-26 00:00:00", 20, "click", 100.0),  # age 35d > cap
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {r["user_id"]: r["decay_score4"] for r in R4._events_decay_score(spark, d).collect()}
    # value 100 at age 25: 10000 cents * (2^30 >> 25) / (2^30 * 100)
    # = 10000 * 32 / 2^30 / 100 = 2.98e-6 -> rounds to 0.0000 at 4dp,
    # so assert on the RAW weight path instead: use value large enough
    # to survive the 4-decimal rounding (value=1e6 -> score ~0.0298)
    assert got[20] == 0.0
    ev2 = spark.createDataFrame(
        [(1, "2024-02-05 00:00:00", 10, "click", 1_000_000.0)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    ev2.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got2 = {r["user_id"]: r["decay_score4"] for r in R4._events_decay_score(spark, d).collect()}
    assert got2[10] > 0.0, "age-25d event inside the cap must contribute"
