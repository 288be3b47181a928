"""Round-7 optimization equivalence pins.

Each optimization rewrote an operator's INTERNALS for speed while
claiming bit-identical output; these tests pin each claim against the
pre-optimization formulation kept (or reconstructed) as the reference.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_log_ingestion_spark.functions import patterns as P

SF_DIR = "/root/testdata/sf0.001"


# --- patterns: guarded predicates == raw regexes -----------------------

ADVERSARIAL_TEXTS = [
    None,
    "",
    "REPORT RequestId: abc",
    "xREPORT RequestId: abc",
    'line\n[1,"NR_LAMBDA_MONITORING","x"]',  # marker NOT on first line
    '[1,"NR_LAMBDA_MONITORING","x"]',
    'prefix "NR_LAMBDA_MONITORING tail',
    "2020-02-04T00:26:18.068Z req-1 Task timed out after 3.00 seconds",
    "Task timed out after 3.00 seconds",  # literal without the prefix
    "RequestId: 0f0f0f0f-0000-4000-8000-000000000000 ",
    "RequestId:\tx",
    "no markers at all",
    "Z RequestId: 00000000-0000-4000-8000-000000000000 trailing",
    "RequestId: not-a-uuid",
]


def test_guarded_patterns_match_raw_regexes(spark):
    df = spark.createDataFrame(
        [(t,) for t in ADVERSARIAL_TEXTS], "text string"
    )
    t = F.col("text")
    out = df.select(
        P.is_report(t).alias("g_report"),
        t.rlike(P.REPORT).alias("r_report"),
        P.is_nr_marker(t).alias("g_nr"),
        t.rlike(P.NR_MONITORING).alias("r_nr"),
        P.is_timeout(t).alias("g_to"),
        t.rlike(P.TIMEOUT).alias("r_to"),
        P.is_runtime_kill(t).alias("g_kill"),
        t.rlike(P.RUNTIME_KILL).alias("r_kill"),
        P.extract_request_id(t).alias("g_rid"),
        F.nullif(F.regexp_extract(t, P.REQUEST_ID, 1), F.lit("")).alias("r_rid"),
    ).collect()
    for row in out:
        assert row["g_report"] == row["r_report"], row
        assert row["g_nr"] == row["r_nr"], row
        assert row["g_to"] == row["r_to"], row
        assert row["g_kill"] == row["r_kill"], row
        assert row["g_rid"] == row["r_rid"], row


# --- text_analysis: one-pass token counting == per-word filters --------


def test_count_tokens_in_equals_per_word_counts(spark):
    from aws_log_ingestion_spark.operators import text_analysis as TA

    texts = [
        "",
        "the",
        "the the the",
        "a a a",
        "and rand android a an the theo of",
        "  the \t and\nof   is  ",
        "Ze ümlaut the ötest of",
        "athe thea th e",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    words = TA._norm_words(F.col("text"))
    for ws in [tuple(TA.STOPWORDS), tuple(TA.LANG_MARKERS["en"]), tuple(TA.LANG_MARKERS["de"])]:
        got = docs.select(
            "doc_id", TA._count_tokens_in(F.col("text"), ws).alias("n")
        ).collect()
        ref = docs.select(
            "doc_id",
            sum((TA._count_word(words, w) for w in ws), F.lit(0)).alias("n"),
        ).collect()
        assert {r["doc_id"]: r["n"] for r in got} == {
            r["doc_id"]: r["n"] for r in ref
        }, ws


# --- text_analysis: translate-based punct count == regex char class ---


def test_count_punct_equals_regex_class(spark):
    from aws_log_ingestion_spark.operators import text_analysis as TA

    texts = [
        "",
        "plain words only",
        "a,b.c!d?e:f;g(h)i[j]{k}<l>",
        "tabs\tand\nnewlines\x0b\f\r spaces",
        "unicode: ümläut été 中文 \U0001f600 ok",
        "digits 123 and CAPS mixed_under-score",
        '"quotes" and \\backslashes\\',
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = docs.select(
        "doc_id",
        TA._count_punct(F.col("text")).alias("fast"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"), 0)
        ).alias("ref"),
    ).collect()
    for r in out:
        assert r["fast"] == r["ref"], r


# --- dedup: codegen-aggregate signatures == per-row lambda signatures --


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_sig_cols_equals_sig_array(spark, hash_fn):
    from aws_log_ingestion_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    ss = dedup.shingle_sets(docs, 3).filter(F.size("sh_set") >= 1)
    n = 16
    ref = {
        r["doc_id"]: [r["sig"][i] for i in range(n)]
        for r in dedup._sig_array(ss, n, hash_fn).select("doc_id", "sig").collect()
    }
    new = {
        r["doc_id"]: [r[f"s{i}"] for i in range(n)]
        for r in dedup._sig_cols(ss, n, hash_fn).collect()
    }
    assert new == ref


# --- text_analysis: rarity df = count(when(cnt>0,1)) == count(1) -------


def test_rarity_df_formulation_exact_and_reused(spark):
    """rarity_score's document-frequency aggregate consumes cnt
    (count(when(cnt > 0, 1))) purely so the df branch's exchange stays
    canonically identical to the scoring branch's and AQE dedupes the
    explode pass. Pin (a) value-equality against the plain count(1)
    reference, (b) that the executed plan actually contains the
    ReusedExchange the rewrite exists for."""
    from aws_log_ingestion_spark.operators import text_analysis as TA
    from aws_log_ingestion_spark.operators.text_analysis import _norm_words

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = TA.rarity_score(docs)
    got = {r["doc_id"]: (r["n_tokens"], r["rarity_sum"], r["rarity_avg"])
           for r in out.collect()}

    # reference: the pre-rewrite formulation with plain count(1) df
    words = _norm_words(F.col("text"))
    toks = docs.select("doc_id", F.explode(words).alias("tok")).filter(
        F.col("tok") != ""
    )
    per_doc_tok = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    df_tab = per_doc_tok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    weights = df_tab.crossJoin(F.broadcast(n_docs)).select(
        "tok", F.expr("n_docs * 1000 DIV df").cast("long").alias("w")
    )
    ref_rows = (
        per_doc_tok.join(weights, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("w")).cast("long").alias("rarity_sum"),
            F.sum("cnt").cast("long").alias("n_tokens"),
        )
        .collect()
    )
    ref = {
        r["doc_id"]: (r["n_tokens"], r["rarity_sum"], r["rarity_sum"] // r["n_tokens"])
        for r in ref_rows
    }
    # docs with no tokens fall out of ref (left join fills zeros in out)
    for doc_id, vals in ref.items():
        assert got[doc_id] == vals, (doc_id, got[doc_id], vals)
    for doc_id, vals in got.items():
        if doc_id not in ref:
            assert vals == (0, 0, 0), (doc_id, vals)

    # the point of the formulation: the executed plan reuses the pair
    # exchange instead of running the explode pass twice
    q = out.agg(F.sum("rarity_sum"))
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, "df branch no longer reuses the pair exchange"


def test_tfidf_df_formulation_exact_and_reused(spark):
    """Same pattern as rarity_score: tfidf_topk's document-frequency
    aggregate consumes tf so the branch's exchange stays canonically
    identical to the tf branch's. Pin value-equality against the plain
    count(1) reference and the ReusedExchange in the executed plan."""
    from pyspark.sql import Window as W

    from aws_log_ingestion_spark.operators import text_analysis as TA
    from aws_log_ingestion_spark.operators.text_analysis import (
        STOPWORDS,
        _norm_words,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(map(tuple, TA.tfidf_topk(docs).collect()))

    words = _norm_words(F.col("text"))
    terms = docs.select(
        "doc_id",
        F.explode(
            F.filter(words, lambda x: (x != "") & ~x.isin(*STOPWORDS))
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    ranked = tf.join(df_t, "term").withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(
                F.col("tf").desc(), F.col("doc_freq"), F.col("term")
            )
        ),
    )
    ref = sorted(
        map(
            tuple,
            ranked.filter(F.col("rank") <= 5)
            .select(
                "doc_id", "term", "tf", "doc_freq",
                F.col("rank").cast("int").alias("rank"),
            )
            .collect(),
        )
    )
    assert got == ref

    qq = TA.tfidf_topk(docs).groupBy().count()
    qq.collect()
    plan = qq._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, "df branch no longer reuses the tf exchange"


# --- dedup: ml.NGram shingles == zip_with reference --------------------


def _zipwith_shingle_sets(docs, n=3):
    """Inline copy of the zip_with shingle builder — the reference
    formulation any future shingle_sets rewrite must equal per-row
    (the r7 ml.NGram attempt was value-equal but lost fresh-session,
    see OPTIMIZATION_r07.md pass 7; these pins stay as the contract)."""
    # It copies shingle_sets' internals today on purpose: the pin guards
    # future rewrites. Its element order (array_distinct's first
    # occurrence) is part of that formulation contract, so the tests
    # compare arrays, not sets; do not sort them to make a rewrite pass.
    words = F.split(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " "
    )
    m = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    arr = F.slice(words, 1, m)
    for j in range(1, n):
        arr = F.zip_with(
            arr, F.slice(words, j + 1, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return docs.select("doc_id", F.array_distinct(arr).alias("sh_set"))


@pytest.mark.parametrize("n", [1, 2, 3])
def test_shingle_sets_equal_zipwith_reference(spark, n):
    """shingle_sets must stay per-row equal to the zip_with reference
    (incl. NULL text -> NULL set, empty/short/multi-space docs) no
    matter how its internals are reformulated."""
    from aws_log_ingestion_spark.operators import dedup

    corpus = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [
            (100001, ""),
            (100002, "one"),
            (100003, "one two"),
            (100004, "one two three"),
            (100005, "  Multi   Space\tTabs  mixed CASE  "),
            (100006, None),
            (100007, "a b a b a"),  # repeats exercise array_distinct
        ],
        "doc_id long, text string",
    )
    docs = corpus.unionByName(edge)
    ref = {r["doc_id"]: r["sh_set"] for r in _zipwith_shingle_sets(docs, n).collect()}
    got = {r["doc_id"]: r["sh_set"] for r in dedup.shingle_sets(docs, n).collect()}
    # Order-sensitive on purpose: this pins the zip_with formulation
    # (array_distinct's first-occurrence order), not only the set. A
    # rewrite that yields the same set in another order has to change
    # this pin deliberately rather than pass it silently.
    assert got == ref


# --- dedup: minhash pipeline == zip_with-shingle reference -------------


def test_minhash_pairs_equal_zipwith_reference(spark):
    """End-to-end shingle-formulation pin for minhash_lsh_pairs: the
    full pipeline (signatures, bands, candidates, exact verification)
    must return exactly the pair set of the same pipeline built over
    the inline zip_with reference shingles."""
    from aws_log_ingestion_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    new = dedup.minhash_lsh_pairs(docs, threshold=0.5)

    n, num_hashes, bands, threshold = 3, 64, 16, 0.5
    r = num_hashes // bands
    ss = _zipwith_shingle_sets(docs, n).filter(F.size("sh_set") >= 1)
    sig = dedup._sig_cols(ss, num_hashes, "xxhash64")
    band_arr = F.array(
        *[
            F.xxhash64(*[F.col(f"s{b * r + j}") for j in range(r)], F.lit(b))
            for b in range(bands)
        ]
    )
    buckets = sig.select(
        "doc_id", "n_sh", F.posexplode(band_arr).alias("band", "band_hash")
    )
    x = buckets.alias("x")
    y = buckets.alias("y")
    T = int(threshold * 1000)
    cond = (
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.band_hash") == F.col("y.band_hash"))
        & (F.col("x.doc_id") < F.col("y.doc_id"))
        & (
            F.least(F.col("x.n_sh"), F.col("y.n_sh")) * 1000
            >= F.greatest(F.col("x.n_sh"), F.col("y.n_sh")) * F.lit(T)
        )
    )
    candidates = (
        x.join(y, cond)
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .distinct()
    )
    pa = ss.select(F.col("doc_id").alias("id_a"), F.col("sh_set").alias("set_a"))
    pb = ss.select(F.col("doc_id").alias("id_b"), F.col("sh_set").alias("set_b"))
    ref = (
        candidates.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn(
            "jaccard_x1000",
            F.floor(
                F.col("inter")
                * 1000
                / (F.size("set_a") + F.size("set_b") - F.col("inter"))
            ).cast("long"),
        )
        .filter(F.col("jaccard_x1000") >= T)
        .select("id_a", "id_b", "jaccard_x1000")
    )
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, ref.collect()))
