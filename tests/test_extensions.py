"""Semantic unit tests for the LLM-pipeline extension operators:
planted fixtures with hand-checkable answers (SURVEY.md §5 model —
'verify with small examples'), complementing the registry-wide DuckDB
parity tests in test_registry.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_chisquare_spark.operators import dedup as dd
from mapreduce_chisquare_spark.operators import simsearch as ss
from mapreduce_chisquare_spark.operators.asof import asof_join
from mapreduce_chisquare_spark.sources import sinks

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away home "
    "tonight while stars shine bright above the quiet sleepy village"
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    # 0/1: identical; 2: one word changed (near-dup); 3: unrelated.
    rows = [
        (0, BASE),
        (1, BASE),
        (2, BASE.replace("village", "hamlet")),
        (3, "completely different content about spark query engines "
            "and distributed columnar execution pipelines at scale"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates_planted(planted_docs):
    out = dd.exact_duplicates(planted_docs).collect()
    assert len(out) == 1
    assert out[0].n_dupes == 2 and out[0].keep_doc_id == 0


def test_minhash_finds_neardups_not_unrelated(planted_docs):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dd.minhash_candidate_pairs(planted_docs).collect()
    }
    assert (0, 1) in pairs  # identical docs always collide on all bands
    assert not any(3 in p for p in pairs)  # unrelated never pairs
    # near-dup (0,2)/(1,2) may or may not collide (probabilistic) — but
    # if present it must carry fewer or equal bands than the exact pair.


def test_neardup_components_planted(spark):
    # Chain 0~1~2 (exact dup + near dup) must collapse into one
    # component labelled by the min doc_id.
    rows = [
        (0, BASE),
        (1, BASE),
        (2, BASE.replace("village", "hamlet")),
        (3, "completely unrelated text about query engines and "
            "distributed execution at massive scale in the cloud"),
        (4, "completely unrelated text about query engines and "
            "distributed execution at massive scale in the cloud"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    comp = {
        r.doc_id: r.component_id
        for r in dd.neardup_components(docs).collect()
    }
    assert comp[0] == 0 and comp[1] == 0
    assert comp.get(2, 0) == 0  # near-dup may or may not pair; if it
    # did, it must join component 0 (never 3/4's)
    assert comp[3] == 3 and comp[4] == 3


def test_components_over_pairs_nonconvergence_raises(spark):
    # A 6-node path has diameter 5: two rounds of min-label
    # propagation leave labels still changing, which must fail loud
    # rather than return partly propagated component ids.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6 - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.components_over_pairs(pairs, max_iter=2)
    stats: dict = {}
    comp = dd.components_over_pairs(pairs, max_iter=20, stats=stats)
    assert stats == {"rounds": 6, "converged": True}
    assert {r.component_id for r in comp.collect()} == {0}


def test_jaccard_exact_values(planted_docs):
    pairs = dd.minhash_candidate_pairs(planted_docs)
    j = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.ngram_jaccard(planted_docs, pairs).collect()
    }
    assert j[(0, 1)] == 1.0
    for (a, b), v in j.items():
        assert 0.0 <= v <= 1.0


def test_simhash_hamming_orders_similarity(spark, planted_docs):
    toks = planted_docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower("text"), r"\s+"), lambda t: t != ""
                )
            )
        ).alias("term"),
    )
    sh = {r.doc_id: r.simhash for r in dd.simhash(toks).collect()}
    ham = lambda a, b: bin(sh[a] ^ sh[b]).count("1")
    assert ham(0, 1) == 0  # identical token sets
    assert ham(0, 2) < ham(0, 3)  # near-dup closer than unrelated


def test_brute_force_topk_finds_planted_neighbor(spark):
    # vec 10 == vec 0 scaled (cos=1); vec 11 orthogonal to vec 0.
    dim = ss.DIM
    v0 = [1.0] + [0.0] * (dim - 1)
    v10 = [2.0] + [0.0] * (dim - 1)
    v11 = [0.0, 1.0] + [0.0] * (dim - 2)
    rows = [(0, v0, 0), (10, v10, 0), (11, v11, 0)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    res = ss.cosine_topk(emb, k=2).filter(F.col("query_id") == 0).collect()
    by_rank = {r.rank: r for r in res}
    assert by_rank[1].vec_id == 10 and by_rank[1].cos == pytest.approx(1.0)
    assert by_rank[2].cos == pytest.approx(0.0)


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, 100, "2024-01-01 10:00:00"), (2, 100, "2024-01-01 09:00:00")],
        "event_id long, user_id long, ts_s string",
    ).select("event_id", "user_id", F.to_timestamp("ts_s").alias("ts"))
    right = spark.createDataFrame(
        [
            (100, "2024-01-01 09:30:00"),
            (100, "2024-01-01 09:59:00"),
            (100, "2024-01-01 10:00:01"),
        ],
        "user_id long, ts_s string",
    ).select(
        "user_id",
        F.to_timestamp("ts_s").alias("ts"),
        F.unix_micros(F.to_timestamp("ts_s")).alias("click_us"),
    )
    out = {
        r.event_id: r.asof_click_us
        for r in asof_join(left, right, "user_id", "ts", "click_us").collect()
    }
    from datetime import datetime, timezone

    def us(s: str) -> int:
        dt = datetime.fromisoformat(s).replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1_000_000)
    assert out[1] == us("2024-01-01 09:59:00")  # latest <= 10:00
    assert out[2] is None  # nothing at or before 09:00


def test_salted_join_equals_plain_join_under_skew(spark):
    from mapreduce_chisquare_spark.operators.skew import salted_join

    # 900 of 1000 rows share one hot key.
    big = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame(
        [(7, "hot"), (950, "cold")], "k long, v string"
    )
    got = sorted(
        (r.k, r.payload, r.v)
        for r in salted_join(big, small, on="k", num_salts=8).collect()
    )
    want = sorted(
        (r.k, r.payload, r.v) for r in big.join(small, "k").collect()
    )
    assert got == want and len(got) == 901


def test_text_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("a b c",), ("d e f",)], "value string")
    path = str(tmp_path / "out")
    sinks.write_text(df, path, single_file=True)
    lines = sorted(
        r.value for r in spark.read.text(path).collect()
    )
    assert lines == ["a b c", "d e f"]


def test_embed_neardup_bucket_blocking_planted(spark):
    # Same-direction vectors share the hyperplane bucket and pair with
    # cos 1; the antipodal vector flips every sign bit, lands in the
    # complement bucket, and must never be paired (ANN semantics: only
    # co-bucketed candidates are scored).
    import random

    rng = random.Random(7)
    v = [rng.uniform(-1, 1) for _ in range(ss.DIM)]
    rows = [
        (1, [float(x) for x in v]),
        (2, [float(2 * x) for x in v]),
        (3, [float(-x) for x in v]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r.vec_a, r.vec_b): r.cos for r in ss.cosine_neardup_pairs(emb).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.999
    assert not any(3 in p for p in pairs)


def test_asof_join_multi_payload_row_consistent(spark):
    # The matched right row (ts=90) has a NULL payload `a`; both asof
    # columns must come from that SAME row — a per-column carry would
    # backfill `a` from the older ts=50 row and mix rows.
    left = spark.createDataFrame(
        [(1, 100, "p")], "k long, ts long, tag string"
    )
    right = spark.createDataFrame(
        [(1, 50, "old", 5), (1, 90, None, 9)],
        "k long, ts long, a string, b long",
    )
    out = asof_join(left, right, "k", "ts", ["a", "b"]).collect()
    assert len(out) == 1
    assert out[0].asof_a is None and out[0].asof_b == 9
    # str payload keeps the single-column API
    single = asof_join(left, right, "k", "ts", "b").collect()
    assert single[0].asof_b == 9


def test_adaptive_salting_planted_skew(spark):
    from mapreduce_chisquare_spark.operators.skew import (
        adaptive_salted_join,
        decide_num_salts,
        salted_join,
    )

    # 5000 rows on one hot key + 500 uniform rows; tiny budget so the
    # probe must choose to salt. Uniform keys alone must choose NOT to.
    hot = spark.range(5000).selectExpr("CAST(1 AS LONG) AS k", "id AS v")
    uni = spark.range(500).selectExpr("id % 100 AS k", "id AS v")
    big = hot.union(uni)
    small = spark.range(100).selectExpr("id AS k", "id * 10 AS w")

    n = decide_num_salts(big, "k", target_rows_per_partition=1000)
    assert n > 1
    assert decide_num_salts(uni, "k", target_rows_per_partition=1000) == 1

    plain = big.join(small, "k").groupBy("k").count().collect()
    salted = (
        adaptive_salted_join(
            big, small, "k", salt_cols=["k", "v"],
            target_rows_per_partition=1000,
        )
        .groupBy("k")
        .count()
        .collect()
    )
    assert sorted((r.k, r["count"]) for r in plain) == sorted(
        (r.k, r["count"]) for r in salted
    )
    # fixed-S path still correct too
    fixed = (
        salted_join(big, small, "k", num_salts=4, salt_cols=["k", "v"])
        .groupBy("k").count().collect()
    )
    assert sorted((r.k, r["count"]) for r in plain) == sorted(
        (r.k, r["count"]) for r in fixed
    )


def _jaccard(a: list[str], b: list[str], n: int = 3) -> float:
    sa = {" ".join(a[i : i + n]) for i in range(len(a) - n + 1)}
    sb = {" ".join(b[i : i + n]) for i in range(len(b) - n + 1)}
    return len(sa & sb) / len(sa | sb)


@pytest.fixture(scope="module")
def minhash_operating_corpus(spark):
    # 12 high-similarity pairs (one word of 40 replaced, shingle
    # Jaccard ~0.85) and 12 low-similarity pairs (10 of 40 words
    # shared, ~0.1). Disjoint per-pair vocabularies, so cross-pair
    # Jaccard is 0 and every candidate the LSH emits is attributable.
    # Words must be purely alphabetic: digits are tokenizer delimiters
    # (DELIM_REGEX), so digit-bearing words would shatter into tiny
    # shared fragments and silently raise every pair's true Jaccard.
    def w(prefix: str, n: int) -> str:
        return prefix + chr(97 + n // 26) + chr(97 + n % 26)

    rows, truth = [], {}
    doc_id = 0
    for p in range(24):
        words = [w("pair", p) + w("word", j) for j in range(40)]
        if p < 12:
            other = list(words)
            other[17] = w("pair", p) + "changed"
        else:
            other = [w("pair", p) + w("fresh", j) for j in range(30)] + words[:10]
        rows += [(doc_id, " ".join(words)), (doc_id + 1, " ".join(other))]
        truth[(doc_id, doc_id + 1)] = _jaccard(words, other)
        doc_id += 2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df, truth


@pytest.mark.parametrize(
    "k,bands,min_recall_high,max_low_captured",
    [
        (16, 8, 0.9, 6),    # high-recall screen: r=2, loose threshold
        (128, 16, 0.9, 0),  # sharp detector: r=8, threshold ~0.7
    ],
)
def test_minhash_precision_recall_operating_points(
    minhash_operating_corpus, k, bands, min_recall_high, max_low_captured
):
    docs, truth = minhash_operating_corpus
    high = {p for p, j in truth.items() if j >= 0.7}
    low = {p for p, j in truth.items() if j <= 0.2}
    assert len(high) == 12 and len(low) == 12  # fixture sanity
    got = {
        (r.doc_a, r.doc_b)
        for r in dd.minhash_candidate_pairs(docs, k=k, bands=bands).collect()
    }
    recall_high = len(got & high) / len(high)
    assert recall_high >= min_recall_high, (k, bands, sorted(got))
    assert len(got & low) <= max_low_captured, (k, bands, sorted(got & low))


# =========================================================================
# Curation operators (decontamination, repetition, PII, quotas)
# =========================================================================

EVAL_TEXT = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
)


def test_decontaminate_flags_verbatim_overlap_only(spark):
    from mapreduce_chisquare_spark.operators import curation as cu

    rows = [
        # eval doc (source src0)
        (0, EVAL_TEXT, "src0"),
        # training doc quoting >= 5 consecutive eval words: flagged
        (1, "intro words then alpha beta gamma delta epsilon zeta done",
         "src1"),
        # training doc sharing single words but no 5-gram: clean
        (2, "alpha unrelated beta mixture gamma solo delta lone epsilon",
         "src1"),
        # clean doc
        (3, "totally different content nothing shared at all here today",
         "src2"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    out = {r.doc_id: r.n_overlap for r in cu.decontaminate(docs).collect()}
    assert 1 in out and out[1] >= 1
    assert 2 not in out and 3 not in out and 0 not in out


def test_repetition_metrics_planted(spark):
    from mapreduce_chisquare_spark.operators import curation as cu

    rows = [
        (0, "spam spam spam spam"),          # all same token
        (1, "one two three four"),           # all distinct
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    m = {r.doc_id: r for r in cu.repetition_metrics(docs).collect()}
    assert m[0].n_tokens == 4
    assert m[0].dup_token_ratio == pytest.approx(0.75)
    assert m[0].top_token_share == pytest.approx(1.0)
    assert m[0].dup_3gram_ratio == pytest.approx(0.5)  # 2 grams, 1 distinct
    assert m[1].dup_token_ratio == pytest.approx(0.0)
    assert m[1].top_token_share == pytest.approx(0.25)
    assert m[1].dup_3gram_ratio == pytest.approx(0.0)


def test_redact_pii_planted(spark):
    from mapreduce_chisquare_spark.operators import curation as cu

    rows = [
        (0, "write to alice.smith+x@corp.example.org or card 4111222233334444"),
        (1, "no pii here just words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in cu.redact_pii(docs).collect()}
    assert out[0].n_emails == 1 and out[0].n_numbers == 1
    assert "<EMAIL>" in out[0].clean_text and "<NUM>" in out[0].clean_text
    assert "alice" not in out[0].clean_text
    assert "4111" not in out[0].clean_text
    assert out[1].n_emails == 0 and out[1].n_numbers == 0
    assert out[1].clean_text == "no pii here just words"


def test_sample_per_source_quota_and_determinism(spark):
    from mapreduce_chisquare_spark.operators import curation as cu

    rows = [(i, f"text {i}", f"src{i % 3}") for i in range(30)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    a = sorted((r.doc_id, r.source) for r in cu.sample_per_source(docs).collect())
    b = sorted((r.doc_id, r.source) for r in cu.sample_per_source(docs).collect())
    assert a == b  # deterministic
    per_src = {}
    for _, s in a:
        per_src[s] = per_src.get(s, 0) + 1
    assert all(v == 5 for v in per_src.values())


def test_csv_scan_drops_exactly_injected_rows(spark, sf_dir):
    from mapreduce_chisquare_spark.plans.registry_extensions import scan_csv_q
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    got = scan_csv_q(spark, sf_dir)
    want = scan_parquet(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_stream_interval_join_matches_batch(spark, sf_dir):
    from mapreduce_chisquare_spark.sources.readers import scan_parquet
    from mapreduce_chisquare_spark.streaming.joins import (
        attribution_to_completion,
    )

    ev = scan_parquet(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    batch = (
        v.join(c, (v.user_id == c.c_user))
        .filter(
            (F.col("click_ts") >= F.col("view_ts"))
            & (
                F.col("click_ts")
                < F.col("view_ts") + F.expr("INTERVAL 600 SECONDS")
            )
        )
        .select("click_id", "view_id")
    )
    want = sorted((r.click_id, r.view_id) for r in batch.collect())
    got = sorted(
        (r.click_id, r.view_id)
        for r in attribution_to_completion(spark, sf_dir).collect()
    )
    assert got == want


# =========================================================================
# Time series, warehouse, embedding stats
# =========================================================================

def test_resample_ffill_planted(spark):
    from mapreduce_chisquare_spark.operators.timeseries import resample_ffill

    # user 1: events in hour 0 and hour 2 (hour 1 empty -> ffill).
    rows = [
        (1, 1, "2024-01-01 00:10:00", 5.0),
        (2, 1, "2024-01-01 00:20:00", 7.0),   # last of hour 0
        (3, 1, "2024-01-01 02:05:00", 9.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, value double"
    ).selectExpr(
        "event_id", "user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value"
    )
    out = {
        r.hour_start: r
        for r in resample_ffill(ev, max_user=None).collect()
    }
    h0 = 1704067200  # 2024-01-01 00:00:00 UTC
    assert sorted(out) == [h0, h0 + 3600, h0 + 7200]
    assert out[h0].n_events == 2 and out[h0].value_ffill == 7.0
    assert out[h0 + 3600].n_events == 0
    assert out[h0 + 3600].value_ffill == 7.0  # carried forward
    assert out[h0 + 7200].n_events == 1 and out[h0 + 7200].value_ffill == 9.0


def test_chunk_and_pack_planted(spark):
    from mapreduce_chisquare_spark.operators.packing import (
        chunk_documents,
        pack_sequences,
    )

    rows = [
        (1, "a b c d e", "en"),   # 5 tokens
        (2, "x " * 60, "en"),     # 60 tokens -> 2 chunks at 50
        (3, "", "en"),            # empty -> no chunks
        (4, "y z", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    chunks = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_text)
        for r in chunk_documents(df).collect()
    }
    assert chunks[(1, 0)] == (5, "a b c d e")
    assert chunks[(2, 0)][0] == 50 and chunks[(2, 1)][0] == 10
    assert not any(d == 3 for d, _ in chunks)

    packed = {
        (r.part, r.bin_id): (r.n_docs, r.sum_tokens)
        for r in pack_sequences(df, budget=32).collect()
    }
    # en: cum 5 -> bin 0; cum 65 -> bin 2 (doc 2 overflows its own bin);
    # empty doc 3: cum stays 65 -> bin 2. de: 2 tokens -> bin 0.
    assert packed[("en", 0)] == (1, 5)
    assert packed[("en", 2)] == (2, 60)
    assert packed[("de", 0)] == (1, 2)


def test_dq_profile_planted(spark):
    from mapreduce_chisquare_spark.operators.warehouse import dq_profile

    rows = [(1, 10.0), (2, None), (2, 30.0)]
    df = spark.createDataFrame(rows, "k long, v double")
    out = {
        (r.column, r.metric): r.value for r in dq_profile(df, ["k", "v"]).collect()
    }
    assert out[("k", "rows")] == 3.0
    assert out[("k", "nulls")] == 0.0
    assert out[("k", "distinct")] == 2.0
    assert out[("v", "nulls")] == 1.0
    assert out[("v", "distinct")] == 2.0  # nulls not counted
    assert out[("v", "min")] == 10.0 and out[("v", "max")] == 30.0


def test_scd2_merge_branches(spark):
    from mapreduce_chisquare_spark.operators.warehouse import scd2_merge

    base = spark.createDataFrame(
        [(1, 100.0), (2, 200.0), (3, 300.0)], "k long, v double"
    )
    updates = spark.createDataFrame(
        [(2, 250.0), (3, 300.0), (4, 400.0)], "k long, v double"
    )
    out = sorted(
        (r.k, r.v, r.version, r.is_current)
        for r in scd2_merge(base, updates, "k", "v").collect()
    )
    assert out == [
        (1, 100.0, 1, True),            # untouched
        (2, 200.0, 1, False),           # changed: closed
        (2, 250.0, 2, True),            # changed: new current
        (3, 300.0, 1, True),            # update equal -> unchanged
        (4, 400.0, 1, True),            # insert
    ]


def test_embed_label_means_matches_numpy(spark, sf_dir):
    import numpy as np

    from mapreduce_chisquare_spark.plans.registry import REGISTRY

    out = REGISTRY["embed_label_means"][0](spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    by_label = {}
    for r in emb:
        by_label.setdefault(r.label, []).append(
            [float(x) for x in r.embedding]
        )
    for row in out[:50]:
        arr = np.array(by_label[row.label])
        assert row["mean"] == pytest.approx(arr[:, row.d].mean(), abs=2e-6)


def test_multimodal_resize_strides_bytes(spark):
    from mapreduce_chisquare_spark.operators.multimodal import (
        binarize_documents,
        resize_media,
    )

    docs = spark.createDataFrame(
        [(0, "abcdef"), (1, "abcde"), (2, "x")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in resize_media(binarize_documents(docs)).collect()}
    import hashlib

    assert out[0].n_bytes == 6 and out[0].resized_bytes == 3
    assert out[0].resized_md5 == hashlib.md5(b"ace").hexdigest()
    assert out[1].resized_md5 == hashlib.md5(b"ace").hexdigest()
    assert out[2].resized_bytes == 1


def test_winsorize_clips_to_group_percentiles(spark):
    from mapreduce_chisquare_spark.operators import curation as cu

    rows = [(i, "g", float(i)) for i in range(1, 101)] + [
        (200, "g", 1000.0)  # outlier
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, v double")
    out = {r.doc_id: r for r in cu.winsorize(df, "v", "grp").collect()}
    assert out[200].was_clipped and out[200].v_wins < 1000.0
    assert not out[50].was_clipped and out[50].v_wins == 50.0
    lo = min(r.v_wins for r in out.values())
    assert lo > 1.0  # bottom tail clipped up to p05


def test_neardup_components_planted_clusters_exact_recovery(spark):
    """End-to-end recall guard for the iterative propagation loop
    (VERDICT r3 #6): seed several duplicate clusters plus a sliding-
    window near-dup CHAIN (adjacent docs similar, distant docs not),
    and assert exact component recovery — every member labelled by
    its cluster's min doc_id, no cross-cluster merges, isolates
    absent. The chain needs label propagation across multiple hops,
    exercising the convergence path rather than a single round."""
    toks = [f"w{i:03d}" for i in range(135)]
    chain = [
        (100 + i, " ".join(toks[i * 15 : i * 15 + 60])) for i in range(6)
    ]
    cluster_a = [(200 + i, "alpha " * 3 + "identical corpus text about "
                  "river deltas and sediment flow measurement")
                 for i in range(3)]
    cluster_b = [(300 + i, "beta " * 3 + "another identical corpus text "
                  "covering orbital mechanics and launch windows")
                 for i in range(4)]
    isolate = [(400, "totally singular document content concerning "
                "medieval glassblowing techniques and furnaces")]
    docs = spark.createDataFrame(
        chain + cluster_a + cluster_b + isolate,
        "doc_id long, text string",
    )
    # precondition: the chain is connected through adjacent links
    pairs = {
        tuple(sorted((r.doc_a, r.doc_b)))
        for r in dd.minhash_candidate_pairs(docs).collect()
    }
    for i in range(5):
        assert any(
            {100 + i, 100 + j} <= set(p) for j in range(i + 1, 6)
            for p in [set(p2) for p2 in pairs]
        ), f"chain link from {100 + i} missing: {sorted(pairs)}"
    comp = {
        r.doc_id: r.component_id for r in dd.neardup_components(docs).collect()
    }
    assert all(comp[100 + i] == 100 for i in range(6)), comp
    assert all(comp[200 + i] == 200 for i in range(3)), comp
    assert all(comp[300 + i] == 300 for i in range(4)), comp
    assert 400 not in comp  # no false edge ever touched the isolate


def test_corpus_shard_is_a_permutation(spark, sf_dir):
    from mapreduce_chisquare_spark.operators import curation as cu
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    docs = scan_parquet(spark, sf_dir, "documents")
    out = cu.corpus_shard(docs).collect()
    assert len(out) == docs.count()  # every doc placed exactly once
    assert len({r.doc_id for r in out}) == len(out)
    seen = {}
    for r in out:
        seen.setdefault(r.shard, []).append(r.pos)
    assert set(seen) <= set(range(16))
    for shard, poses in seen.items():
        # positions are a dense 1..n rank within each shard
        assert sorted(poses) == list(range(1, len(poses) + 1)), shard


def test_corpus_shard_deterministic_across_runs(spark, sf_dir):
    from mapreduce_chisquare_spark.operators import curation as cu
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    docs = scan_parquet(spark, sf_dir, "documents")
    a = sorted(map(tuple, cu.corpus_shard(docs).collect()))
    b = sorted(map(tuple, cu.corpus_shard(docs).collect()))
    assert a == b


def test_train_split_stable_and_roughly_proportional(spark, sf_dir):
    from mapreduce_chisquare_spark.operators import curation as cu
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    docs = scan_parquet(spark, sf_dir, "documents")
    rows = cu.train_split(docs).collect()
    frac = {s: 0 for s in ("train", "val", "test")}
    for r in rows:
        frac[r.split] += 1
    n = len(rows)
    assert 0.8 <= frac["train"] / n <= 0.97
    assert frac["val"] > 0 and frac["test"] > 0
    # stability: same ids, same assignment on a re-run
    again = {r.doc_id: r.split for r in cu.train_split(docs).collect()}
    assert all(again[r.doc_id] == r.split for r in rows)


def test_dedup_corpus_keeps_representatives_only(spark):
    rows = [
        (0, BASE),
        (1, BASE),
        (2, BASE.replace("village", "hamlet")),
        (3, "entirely unrelated writing about tidal energy converters "
            "and their mooring systems in rough seas"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r.doc_id for r in dd.dedup_corpus(docs).collect()}
    assert 0 in kept and 3 in kept  # representative + unpaired doc
    assert 1 not in kept  # exact dup of 0 always dropped
    assert kept <= {0, 2, 3}  # 2 drops iff minhash paired it with 0/1


def test_incremental_dup_flags_planted(spark):
    old = spark.createDataFrame(
        [(0, BASE), (1, "old corpus text about deep sea cable repair "
                        "ships and their dynamic positioning systems")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, BASE.replace("village", "hamlet")),  # near-dup of old 0
            (11, "fresh unique writing on alpine meadow restoration "
                 "and pollinator corridors after glacial retreat"),
            (12, "fresh unique writing on alpine meadow restoration "
                 "and pollinator corridors after glacial retreat"),  # dup of 11
        ],
        "doc_id long, text string",
    )
    flags = {r.doc_id: r for r in dd.incremental_dup_flags(old, new).collect()}
    assert 10 in flags and flags[10].dup_of == 0  # caught against the index
    assert 12 in flags and flags[12].dup_of == 11  # caught within the batch
    assert 11 not in flags  # the batch's first copy is kept


def test_dedup_keep_best_prefers_quality_over_min_id(spark):
    # docs 0 and 1 are exact dups, but 1 is the LONGER copy — the
    # quality policy must keep 1 where the min-id policy keeps 0
    rows = [
        (0, BASE, len(BASE)),
        (1, BASE + " extra trailing detail kept by the longer copy",
         len(BASE) + 44),
        (3, "entirely unrelated writing about tidal energy converters "
            "and their mooring systems in rough seas", 97),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    kept = {r.doc_id for r in dd.dedup_corpus_keep_best(docs).collect()}
    assert kept == {1, 3}
    kept_min_id = {r.doc_id for r in dd.dedup_corpus(docs).collect()}
    assert kept_min_id == {0, 3}


def test_inline_gates_match_metric_relation_joins(spark, sf_dir):
    """quality_gate / repetition_gate must keep exactly the doc set
    that joining the metric relations and filtering keeps — the
    pipelines rely on this equivalence to read the corpus once."""
    from mapreduce_chisquare_spark.operators import curation as cu
    from mapreduce_chisquare_spark.operators import textstats as tx
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    docs = scan_parquet(spark, sf_dir, "documents")
    q_join = {
        r.doc_id
        for r in docs.join(
            tx.quality_score(docs)
            .filter((F.col("n_tokens") >= 5) & (F.col("stop_ratio") <= 0.6))
            .select("doc_id"),
            "doc_id",
        ).collect()
    }
    assert {r.doc_id for r in tx.quality_gate(docs).collect()} == q_join
    r_join = {
        r.doc_id
        for r in docs.join(
            cu.repetition_metrics(docs)
            .filter(F.col("dup_token_ratio") <= 0.65)
            .select("doc_id"),
            "doc_id",
        ).collect()
    }
    assert {r.doc_id for r in cu.repetition_gate(docs).collect()} == r_join


def test_pq_encode_codes_shape_and_determinism(spark, sf_dir):
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    emb = scan_parquet(spark, sf_dir, "embeddings")
    books = ss.pq_codebooks(emb)
    assert len(books) == ss.M_SUB
    assert all(len(b) == ss.K_SUB for b in books)
    assert all(len(c) == ss.SUB_DIM for b in books for c in b)
    rows = ss.pq_encode(emb, books).collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r.codes) == ss.M_SUB
        assert all(0 <= c < ss.K_SUB for c in r.codes)
    # codebooks and codes are fully deterministic (seeded fit, integer
    # quantized means, first-min tie rule)
    books2 = ss.pq_codebooks(emb)
    assert books == books2
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, ss.pq_encode(emb, books2).collect())
    )


def test_pq_fit_reduces_reconstruction_error(spark, sf_dir):
    import numpy as np

    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    emb = scan_parquet(spark, sf_dir, "embeddings")
    X = np.stack(
        [
            np.array(r.embedding, dtype=np.float64)
            for r in emb.select("embedding").collect()
        ]
    )

    def total_err(books):
        B = np.array(books)  # m x k x sd
        err = 0.0
        for m in range(ss.M_SUB):
            sub = X[:, m * ss.SUB_DIM : (m + 1) * ss.SUB_DIM]
            d = ((sub[:, None, :] - B[m][None, :, :]) ** 2).sum(axis=2)
            err += d.min(axis=1).sum()
        return err

    seed = ss.pq_codebooks(emb, iters=0)
    fitted = ss.pq_codebooks(emb)
    assert total_err(fitted) < total_err(seed)


def test_pq_refine_recovers_recall_over_raw_adc(spark, sf_dir):
    """The ADC shortlist + exact re-rank must agree with exact cosine
    top-k strictly more than raw code-distance ranking does — the
    property that justifies the refine stage."""
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    emb = scan_parquet(spark, sf_dir, "embeddings")
    books = ss.pq_codebooks(emb)
    exact = {(r.query_id, r.vec_id) for r in ss.cosine_topk(emb).collect()}
    raw = {
        (r.query_id, r.vec_id)
        for r in ss.pq_adc_topk(emb, books=books).collect()
    }
    refined = {
        (r.query_id, r.vec_id)
        for r in ss.pq_refined_topk(emb, books=books).collect()
    }
    assert len(refined & exact) > len(raw & exact)
    # deterministic floor (measured 0.375 at sf0.001; codes are 64-bit
    # so lossiness is expected — the shortlist is the scale contract)
    assert len(refined & exact) / len(exact) >= 0.2


def test_pq_encode_is_shuffle_free(spark, sf_dir):
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    emb = scan_parquet(spark, sf_dir, "embeddings")
    books = ss.pq_codebooks(emb)
    plan = (
        ss.pq_encode(emb, books)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # row-local projection against literal codebooks: no Exchange
    assert "Exchange" not in plan


def test_source_temperature_upweights_small_sources(spark):
    from mapreduce_chisquare_spark.operators import curation as cu

    # one dominant source, one small one: with alpha=0.5 the small
    # source's selection RATE (picked / size) must exceed the big one's
    rows = [(i, "big") for i in range(900)] + [
        (i + 1000, "small") for i in range(9)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = cu.source_temperature(docs, budget=100).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.pos)
    # every source is represented, positions are dense ranks
    assert set(by_src) == {"big", "small"}
    for poses in by_src.values():
        assert sorted(poses) == list(range(1, len(poses) + 1))
    rate_small = len(by_src["small"]) / 9
    rate_big = len(by_src["big"]) / 900
    assert rate_small > rate_big
    # integer-floored targets never overshoot the budget (min-1 lift
    # aside), and the whole pass is deterministic across runs
    assert len(out) <= 100 + len(by_src)
    assert sorted(map(tuple, out)) == sorted(
        map(tuple, cu.source_temperature(docs, budget=100).collect())
    )


def test_source_temperature_broadcasts_targets(spark, sf_dir):
    from mapreduce_chisquare_spark.operators import curation as cu
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    docs = scan_parquet(spark, sf_dir, "documents")
    plan = (
        cu.source_temperature(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the per-source quota relation attaches map-side, and the corpus
    # never funnels through a global sort
    assert "BroadcastHashJoin" in plan
    assert "rangepartitioning" not in plan.lower()


def test_lm_unigram_score_hand_computed(spark):
    import math

    from mapreduce_chisquare_spark.operators import textstats as tx

    docs = spark.createDataFrame(
        [(0, "a a a a"), (1, "zzz"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in tx.lm_unigram_score(docs).collect()}
    # corpus unigram counts: a -> 4, zzz -> 1, T = 5
    assert set(rows) == {0, 1}  # token-less docs drop out
    assert rows[0].n_tokens == 4 and rows[1].n_tokens == 1
    assert abs(rows[0].avg_logprob - math.log(4 / 5)) < 1e-12
    assert abs(rows[1].avg_logprob - math.log(1 / 5)) < 1e-12
    # common-word docs score above rare-word docs by construction
    assert rows[0].avg_logprob > rows[1].avg_logprob


def test_lm_unigram_score_reuses_term_exchange(spark, sf_dir):
    from mapreduce_chisquare_spark.operators import textstats as tx
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    docs = scan_parquet(spark, sf_dir, "documents")
    df = tx.lm_unigram_score(docs)
    df.collect()  # AQE: exchange reuse materializes in the final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the per-term roll-up and corpus-total branches reuse the ONE
    # term-partitioned exchange — the corpus is scanned/tokenized once
    assert plan.count("ReusedExchange") >= 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_sample_weighted_prefers_heavy_rows_and_never_sorts_globally(
    spark, sf_dir
):
    from mapreduce_chisquare_spark.operators import curation as cu
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    docs = scan_parquet(spark, sf_dir, "documents")
    out = cu.sample_weighted(docs, "n_chars", k=100)
    rows = out.collect()
    assert len(rows) == 100
    # A-ES bias check: the weighted sample's mean weight must exceed
    # the corpus mean (long docs selected preferentially)
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean
    # determinism across runs
    assert rows == cu.sample_weighted(docs, "n_chars", k=100).collect()
    # top-k executes as TakeOrdered (heap + k-row merge), no global sort
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_agg_linreg_recovers_planted_trend(spark):
    """agg_linreg must recover a noiseless linear trend exactly (up to
    the documented milli-day / 2^-20 quantization) and be bit-stable
    across runs (exact integer sums feed the scalar math)."""
    import datetime

    from mapreduce_chisquare_spark.plans.registry_relational import (
        _LINREG_BASE_US,
        agg_linreg,
    )

    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = []
    for day in range(0, 200, 5):
        ts = base + datetime.timedelta(days=day)
        rows.append((ts.replace(tzinfo=None), "up", 2.0 + 0.5 * day))
        rows.append((ts.replace(tzinfo=None), "flat", 7.25))
    import tempfile

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
    with tempfile.TemporaryDirectory() as d:
        # single-file layout, like the driver's testdata tables
        pq.write_table(pa.Table.from_pandas(pdf), f"{d}/events.parquet")
        out = {r.event_type: r for r in agg_linreg(spark, d).collect()}
    assert abs(out["up"].slope_per_day - 0.5) < 1e-4
    assert abs(out["up"].intercept - 2.0) < 1e-2
    assert abs(out["flat"].slope_per_day) < 1e-9
    assert abs(out["flat"].intercept - 7.25) < 1e-5


def test_snapshot_diff_planted(spark):
    from mapreduce_chisquare_spark.operators.warehouse import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "z"), (4, None, "w")],
        "k long, v string, w string",
    )
    new = spark.createDataFrame(
        [(2, "b", "y"), (3, "CHANGED", "z"), (4, "", "w"), (5, "new", "q")],
        "k long, v string, w string",
    )
    out = {r.row_key: r.change for r in
           snapshot_diff(old, new, "k", ["v", "w"]).collect()}
    # 1 removed, 2 unchanged (absent), 3 changed, 4 NULL->'' is a
    # CHANGE (the null marker prevents coalesce collisions), 5 added
    assert out == {1: "removed", 3: "changed", 4: "changed", 5: "added"}


def test_corpus_composition_invariants(spark, sf_dir):
    from mapreduce_chisquare_spark.operators import textstats as tx
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    docs = scan_parquet(spark, sf_dir, "documents")
    rows = tx.corpus_composition(docs).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-9
    # cum_share is monotone over the (tokens DESC, lang, source) order
    ordered = sorted(rows, key=lambda r: (-r.n_tokens, r.lang, r.source))
    cums = [r.cum_share for r in ordered]
    assert all(b >= a for a, b in zip(cums, cums[1:]))
    assert abs(cums[-1] - 1.0) < 1e-9


def test_funnel_enforces_event_ordering(spark):
    from datetime import datetime

    from mapreduce_chisquare_spark.operators.timeseries import funnel

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    rows = [
        # user 1: full ordered funnel
        (1, "view", t(0)), (1, "click", t(1)), (1, "purchase", t(2)),
        # user 2: click BEFORE the view — must not convert past view
        (2, "click", t(0)), (2, "view", t(1)),
        # user 3: view + click, purchase before the click — stops at click
        (3, "view", t(0)), (3, "purchase", t(1)), (3, "click", t(2)),
        # user 4: no view at all — never enters the funnel
        (4, "click", t(0)), (4, "purchase", t(1)),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    out = {r.stage: r for r in funnel(ev).collect()}
    assert out["view"].n_users == 3  # users 1, 2, 3
    assert out["click"].n_users == 2  # users 1 and 3 (2's click too early)
    assert out["purchase"].n_users == 1  # only user 1
    assert out["purchase"].share == pytest.approx(1 / 3)


def test_ivfpq_candidates_respect_cell_and_determinism(spark, sf_dir):
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    emb = scan_parquet(spark, sf_dir, "embeddings")
    cents = ss.kmeans_centroids(emb)
    books = ss.pq_codebooks(emb)
    out = ss.ivfpq_topk(emb, cents=cents, books=books).collect()
    assert len(out) > 0
    cell = {
        r.vec_id: r.centroid_id
        for r in ss.with_centroid_assignment(emb, cents).collect()
    }
    for r in out:  # nprobe=1: every hit lives in its query's own cell
        assert cell[r.vec_id] == cell[r.query_id]
        assert 1 <= r.rank <= 5 and r.vec_id != r.query_id
    again = ss.ivfpq_topk(emb, cents=cents, books=books).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_sample_weighted_per_group_quota_and_bias(spark, sf_dir):
    from mapreduce_chisquare_spark.operators import curation as cu
    from mapreduce_chisquare_spark.sources.readers import scan_parquet

    docs = scan_parquet(spark, sf_dir, "documents")
    rows = cu.sample_weighted_per_group(docs, k=10).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    sizes = {
        r.source: r.n for r in docs.groupBy("source").agg(
            F.count("*").alias("n")).collect()
    }
    assert set(by_src) == set(sizes)
    for src, picked in by_src.items():
        assert len(picked) == min(10, sizes[src])
        assert sorted(p.pos for p in picked) == list(
            range(1, len(picked) + 1)
        )
    # weighted bias within groups: the sample's mean length exceeds
    # the corpus mean (same A-ES property as the global sampler)
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, cu.sample_weighted_per_group(docs, k=10).collect())
    )


def test_snapshot_diff_separator_and_marker_collisions(spark):
    """The per-column-md5 token scheme kills both collision classes
    the old concat_ws hash had: a value equal to the NULL marker, and
    a separator byte shifting content across column boundaries."""
    from mapreduce_chisquare_spark.operators.warehouse import snapshot_diff

    old = spark.createDataFrame(
        [(1, None, "x"), (2, "a\x1fb", "c"), (3, "\x00", "y")],
        "k long, v string, w string",
    )
    new = spark.createDataFrame(
        [(1, "\x00", "x"), (2, "a", "b\x1fc"), (3, None, "y")],
        "k long, v string, w string",
    )
    out = {r.row_key: r.change for r in
           snapshot_diff(old, new, "k", ["v", "w"]).collect()}
    # every row differs: NULL vs literal "\x00" (both directions) and
    # the column-boundary shift around "\x1f" are all real changes
    assert out == {1: "changed", 2: "changed", 3: "changed"}


def test_funnel_zero_entry_yields_null_shares(spark):
    """n0 = 0 (nobody reaches stage 1): shares are NULL, not 0/0 —
    pinned identically in the DuckDB oracle (CASE WHEN n0 > 0)."""
    from datetime import datetime

    from mapreduce_chisquare_spark.operators.timeseries import funnel

    ev = spark.createDataFrame(
        [(1, "click", datetime(2024, 1, 1)),
         (2, "purchase", datetime(2024, 1, 1))],
        "user_id long, event_type string, ts timestamp",
    )
    out = {r.stage: r for r in funnel(ev).collect()}
    assert out["view"].n_users == 0
    assert all(out[s].share is None for s in ("view", "click", "purchase"))


def test_corpus_composition_null_keyed_tie_matches_oracle(spark, tmp_path):
    """A NULL lang/source cell TYING on n_tokens exercises the pinned
    NULLS FIRST tie-break: Spark and the DuckDB oracle must agree on
    cum_share row-for-row (ADVICE r4: Spark ASC is nulls-first,
    DuckDB's default is nulls-last)."""
    import duckdb

    from mapreduce_chisquare_spark.operators import textstats as tx
    from mapreduce_chisquare_spark.plans.registry_extensions import (
        SQL_CORPUS_COMPOSITION,
    )

    rows = [
        # two cells with IDENTICAL token counts, one NULL-keyed
        (1, "alpha beta", None, "web", 10),
        (2, "gamma delta", "en", None, 10),
        (3, "x y z", "en", "web", 5),
        (4, None, "de", "web", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    p = str(tmp_path / "documents.parquet")
    docs.toPandas().to_parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')")
    orows = con.execute(SQL_CORPUS_COMPOSITION).fetchall()
    srows = [tuple(r) for r in tx.corpus_composition(docs).collect()]
    key = lambda r: (-r[3], r[0] is not None, r[0], r[1] is not None, r[1])  # noqa: E731
    assert sorted(srows, key=key) == sorted(orows, key=key)


def _planted_ann_fixture(spark):
    """Clustered 64-dim corpus with known structure: 4 well-separated
    centers, 48 members each, plus 4 in-cluster queries (vec_id 0-3)
    and 4 BOUNDARY queries (vec_id 4-7) planted midway between two
    centers so their true neighbours span two IVF cells — the case
    nprobe=1 cannot see."""
    import numpy as np

    rng = np.random.RandomState(42)
    centers = np.zeros((4, 64))
    for c in range(4):
        centers[c, c * 16 : (c + 1) * 16] = 1.0
    rows = []
    # queries 0-3: one per cluster, small noise
    for c in range(4):
        rows.append(centers[c] + rng.normal(0, 0.05, 64))
    # queries 4-7: midway between cluster pairs (0,1),(1,2),(2,3),(3,0)
    for c in range(4):
        mid = (centers[c] + centers[(c + 1) % 4]) / 2.0
        rows.append(mid + rng.normal(0, 0.05, 64))
    # corpus: 48 members per cluster
    for c in range(4):
        for _ in range(48):
            rows.append(centers[c] + rng.normal(0, 0.15, 64))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rows)],
        "vec_id long, embedding array<float>",
    )
    cents = [[float(x) for x in c] for c in centers]
    return df, cents


def _recall_at_k(ann_rows, exact_rows, k=5):
    truth, got = {}, {}
    for r in exact_rows:
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    for r in ann_rows:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    per_q = [
        len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth
    ]
    return sum(per_q) / len(per_q)


@pytest.mark.slow  # ~25s full-ladder recall sweep; full tier
def test_ann_ladder_recall_with_planted_ground_truth(spark):
    """Retrieval QUALITY of the PQ/IVFPQ ladder against exact search
    on a corpus with planted structure (oracle parity only proves
    determinism). Bounds are pinned from the deterministic fixture:
    PQ+refine is near-exact; IVFPQ at nprobe=1 drops the boundary
    queries' cross-cell neighbours; nprobe=2 recovers them."""
    df, cents = _planted_ann_fixture(spark)
    books = ss.pq_codebooks(df)
    exact = ss.cosine_topk(df, n_queries=8, k=5).collect()

    refined = ss.pq_refined_topk(df, n_queries=8, k=5, books=books).collect()
    r_refined = _recall_at_k(refined, exact)

    # shortlist covers both probed cells (~48 members each) so cell
    # MEMBERSHIP — not the coarse 2-bit ADC ranking — is the binding
    # constraint, isolating what nprobe buys. (At the default
    # shortlist the ADC cut dominates and masks the probe effect —
    # measured while pinning these bounds.)
    p1 = ss.ivfpq_topk(df, n_queries=8, k=5, shortlist=100, cents=cents,
                       books=books, nprobe=1).collect()
    p2 = ss.ivfpq_topk(df, n_queries=8, k=5, shortlist=100, cents=cents,
                       books=books, nprobe=2).collect()
    r1, r2 = _recall_at_k(p1, exact), _recall_at_k(p2, exact)
    print(f"recall refined={r_refined} ivfpq@1={r1} ivfpq@2={r2}")

    assert r_refined >= 0.9
    assert r2 > r1  # the probe knob measurably buys recall
    assert r2 >= 0.95  # measured 1.0 on the deterministic fixture
    assert r1 <= 0.95  # nprobe=1 structurally misses cross-cell truth
    # nprobe=1 still finds everything for the in-cluster queries
    in_cluster = {q for q in range(4)}
    truth = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    got1 = {}
    for r in p1:
        got1.setdefault(r.query_id, set()).add(r.vec_id)
    for q in in_cluster:
        assert len(truth[q] & got1[q]) / len(truth[q]) >= 0.8


def test_repeated_spans_planted(spark):
    """A 6-token run shared by docs 1 and 2 yields one merged span per
    doc covering exactly the shared tokens (two overlapping 5-gram
    windows coalesce); disjoint docs and docs shorter than n produce
    no spans."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog entirely"),
            (2, "something else but the quick brown fox jumps over too"),
            (3, "totally unrelated text with no overlap whatsoever here"),
            (4, "short text"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dd.repeated_spans(docs, n=5).collect()
    }
    assert spans == {(1, 0, 6), (2, 3, 9)}
    met = {r.doc_id: r for r in dd.cross_doc_repetition(docs, n=5).collect()}
    assert (met[1].n_grams, met[1].n_dup_grams) == (6, 2)
    assert met[1].dup_gram_share == pytest.approx(2 / 6)
    assert met[3].n_dup_grams == 0 and met[3].dup_gram_share == 0.0
    assert met[4].n_grams == 0 and met[4].dup_gram_share is None


def test_repeated_spans_merges_disjoint_islands(spark):
    """Two separate shared runs inside one doc stay two spans (the
    gaps-and-islands merge only coalesces overlapping/touching
    windows)."""
    a = "alpha beta gamma delta epsilon zeta FILLER1 FILLER2 FILLER3 one two three four five six"
    docs = spark.createDataFrame(
        [
            (1, a.lower()),
            (2, "alpha beta gamma delta epsilon zeta unrelated tail words"),
            (3, "prefix words here one two three four five six trailing"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dd.repeated_spans(docs, n=5).collect()
    }
    # doc 1: tokens 0-5 shared with doc 2, tokens 9-14 shared with doc 3
    assert (1, 0, 6) in spans and (1, 9, 15) in spans
    assert (2, 0, 6) in spans
    assert (3, 3, 9) in spans
    assert len([s for s in spans if s[0] == 1]) == 2


def test_vocab_oov_planted(spark):
    """Vocabulary = top-V terms by occurrence (ties to smaller term);
    a doc of pure out-of-vocab terms rates 1.0, an all-vocab doc 0.0,
    and the empty doc NULL."""
    from mapreduce_chisquare_spark.operators import textstats as tx

    docs = spark.createDataFrame(
        [
            (1, "aa aa aa bb bb cc"),
            (2, "aa bb cc cc"),
            (3, "zz qq ww"),       # never-frequent terms
            (4, ""),
        ],
        "doc_id long, text string",
    )
    vocab = tx.vocab_topv(docs, vocab_size=3).collect()
    # bb and cc tie at 3 occurrences -> smaller term (bb) ranks first
    assert [(r.term, r.n_occurrences, r.vrank) for r in vocab] == [
        ("aa", 4, 1), ("bb", 3, 2), ("cc", 3, 3),
    ]
    out = {r.doc_id: r for r in tx.vocab_oov(docs, vocab_size=3).collect()}
    assert out[1].oov_rate == 0.0 and out[2].oov_rate == 0.0
    assert out[3].oov_rate == 1.0 and out[3].n_oov == 3
    assert out[4].n_tokens == 0 and out[4].oov_rate is None


def test_decontaminate_spans_planted(spark):
    """The eval doc's 5-gram inside a training doc is emitted as the
    exact token range to cut; clean training docs and eval docs
    themselves produce no spans."""
    from mapreduce_chisquare_spark.operators.curation import (
        decontaminate_spans,
    )

    rows = [
        # eval doc (src0) holding the benchmark question
        (1, "what is the capital of france", "src0"),
        # training doc quoting it mid-text (tokens 2-7)
        (2, "intro words what is the capital of france then clean tail",
         "web"),
        # clean training doc
        (3, "completely unrelated training text with no overlap at all",
         "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in decontaminate_spans(docs).collect()
    }
    # "what is the capital of france" = 6 tokens at offsets 2..8 ->
    # two overlapping 5-gram hits merge to [2, 8)
    assert spans == {(2, 2, 8)}


def test_tokens_to_ids_planted(spark):
    """Id sequence preserves token order, maps OOV to 0, and empty
    docs emit empty strings; ids are the vocabulary ranks."""
    from mapreduce_chisquare_spark.operators import textstats as tx

    docs = spark.createDataFrame(
        [(1, "aa bb zz aa"), (2, ""), (3, "zz qq")],
        "doc_id long, text string",
    )
    # corpus counts: aa=2, zz=2, bb=1, qq=1 -> vocab(2) = [aa, zz]
    out = {r.doc_id: r for r in
           tx.tokens_to_ids(docs, vocab_size=2).collect()}
    assert (out[1].n_tokens, out[1].ids_csv) == (4, "1,0,2,1")
    assert (out[2].n_tokens, out[2].ids_csv) == (0, "")
    assert (out[3].n_tokens, out[3].ids_csv) == (2, "2,0")


def test_cut_spans_rewrites_corpus(spark):
    """detect -> merge -> cut end to end: the shared 6-token run is
    removed from both docs, survivors keep their relative order, and
    clean/empty docs pass through untouched."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog entirely"),
            (2, "something else but the quick brown fox jumps over too"),
            (3, "clean doc stays whole"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           dd.cut_spans(docs, dd.repeated_spans(docs, n=5)).collect()}
    assert out[1].clean_text == "the lazy dog entirely"
    assert (out[1].n_tokens_kept, out[1].n_tokens_cut) == (4, 6)
    assert out[2].clean_text == "something else but too"
    assert out[3].clean_text == "clean doc stays whole"
    assert out[3].n_tokens_cut == 0
    assert out[4].clean_text == "" and out[4].n_tokens_kept == 0


def test_select_token_budget_planted(spark):
    """Budget selection follows (n_chars DESC, doc_id ASC) with the
    before-total rule: whole high-priority buckets select wholesale,
    the boundary bucket splits per doc, zero-token docs never select,
    and budget >= 1 always admits the first doc."""
    from mapreduce_chisquare_spark.operators.curation import (
        select_token_budget,
    )

    rows = [
        (1, "a b c d e", 50),       # 5 tokens, top bucket
        (2, "a b c d e", 50),       # 5 tokens, same bucket
        (3, "a b c", 30),           # 3 tokens
        (4, "a b", 30),             # 2 tokens, same bucket, later id
        (5, "", 0),                 # zero tokens: never selected
        (6, "a", 10),               # 1 token, last bucket
    ]
    docs = spark.createDataFrame(
        [(i, t, c) for i, t, c in rows],
        "doc_id long, text string, n_chars long",
    )
    pick = lambda b: {  # noqa: E731
        r.doc_id for r in select_token_budget(docs, b).collect()
    }
    # order: 1(5) 2(5) 3(3) 4(2) 6(1); before: 0 5 10 13 15
    assert pick(1) == {1}
    assert pick(5) == {1}            # before(2)=5 not < 5
    assert pick(11) == {1, 2, 3}     # boundary bucket 30 splits: 4 has before 13
    assert pick(14) == {1, 2, 3, 4}
    assert pick(100) == {1, 2, 3, 4, 6}


def test_pipeline_span_surgery_planted(spark):
    """Both span sources cut in one pass: the cross-doc repeated run
    between docs 10/11 AND the eval-quoted question in doc 10 are
    removed (overlaps would merge); short survivors drop; eval docs
    never appear in the output."""
    from mapreduce_chisquare_spark.plans.registry_extensions import (
        pipeline_span_surgery_q,
    )
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile, os, shutil

    rows = [
        (1, "what is the capital of france", "src0", 29),
        (10, "intro text what is the capital of france middle part "
             "shared run alpha beta gamma delta epsilon plus a clean "
             "tail of many extra words here", "web", 0),
        (11, "other doc shared run alpha beta gamma delta epsilon and "
             "its own completely unrelated continuation words", "web", 0),
        (12, "tiny doc", "web", 0),
    ]
    d = tempfile.mkdtemp()
    try:
        pq.write_table(
            pa.table({
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": [r[2] for r in rows],
                "n_chars": [len(r[1]) for r in rows],
            }),
            os.path.join(d, "documents.parquet"),
        )
        out = {r.doc_id: r for r in pipeline_span_surgery_q(spark, d).collect()}
    finally:
        shutil.rmtree(d)
    assert set(out) <= {10, 11}  # eval + too-short docs never survive
    # doc 10 lost both the eval question and the shared run
    assert "capital" not in out[10].clean_text
    assert "alpha" not in out[10].clean_text
    assert "intro" in out[10].clean_text and "tail" in out[10].clean_text
    assert out[10].n_tokens_cut > 0
    assert "alpha" not in out[11].clean_text
    assert "continuation" in out[11].clean_text


def test_bm25_matches_reference_formula(spark):
    """BM25 on a hand corpus equals the Lucene-formulation reference
    computed in plain python, and a rare term outranks a ubiquitous
    one at equal tf — the property tfidf shares and raw tf lacks."""
    import math

    from mapreduce_chisquare_spark.operators.textstats import bm25

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple cherry"),
            (3, "apple durian durian durian"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.term): r for r in bm25(docs).collect()
    }
    n, avgdl = 3, (3 + 2 + 4) / 3
    def ref(tf, df, dl, k1=1.2, b=0.75):
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert out[(1, "apple")].tf == 2 and out[(1, "apple")].df == 3
    assert abs(out[(1, "apple")].bm25 - ref(2, 3, 3)) < 1e-12
    assert abs(out[(3, "durian")].bm25 - ref(3, 1, 4)) < 1e-12
    # rare "cherry" beats ubiquitous "apple" in the same doc, same tf
    assert out[(2, "cherry")].bm25 > out[(2, "apple")].bm25


def test_lm_bigram_score_prefers_seen_orderings(spark):
    """A document reusing the corpus's frequent bigrams must outscore
    one with the same tokens in never-seen orders — the signal the
    unigram scorer is blind to (identical unigram distributions)."""
    from mapreduce_chisquare_spark.operators.textstats import (
        lm_bigram_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the rug"),
            (3, "the cat sat on the mat"),
            # same unigrams as doc 1, shuffled into unseen bigrams
            (4, "mat the on sat cat the"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in lm_bigram_score(docs).collect()}
    assert out[1].n_bigrams == 5
    assert out[1].avg_logprob > out[4].avg_logprob
    # single-token docs are out of the model's domain: absent
    solo = lm_bigram_score(
        spark.createDataFrame([(9, "hello")], "doc_id long, text string")
    )
    assert solo.count() == 0


def test_lsh_similarity_join_finds_cross_side_dups_only(spark):
    """A probe doc identical to a corpus doc collides in every band;
    an unrelated probe doc yields nothing; corpus-internal duplicate
    pairs never appear (cross-side join, not a self-join)."""
    from mapreduce_chisquare_spark.operators.dedup import (
        NUM_BANDS,
        lsh_similarity_join,
    )

    shared = (
        "the quick brown fox jumps over the lazy dog near the quiet "
        "river bank every single morning before sunrise happens"
    )
    other = (
        "completely unrelated legal boilerplate about warranty terms "
        "and limitation of liability for the provided software product"
    )
    corpus = spark.createDataFrame(
        [(1, shared), (2, shared), (3, "short text here")],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(100, shared), (101, other)],
        "doc_id long, text string",
    )
    rows = lsh_similarity_join(corpus, probe).collect()
    got = {(r.corpus_doc, r.probe_doc): r.n_bands for r in rows}
    assert got.get((1, 100)) == NUM_BANDS
    assert got.get((2, 100)) == NUM_BANDS
    assert all(p == 100 for _, p in got)  # 101 matches nothing
    assert (1, 2) not in got and (2, 1) not in got


def test_minhash_jaccard_estimate_orders_pairs(spark):
    """Identical docs estimate 1.0; a near-dup (one word changed)
    estimates high; an unrelated pair estimates low — and the
    estimate brackets the exact shingle Jaccard computed in python."""
    from mapreduce_chisquare_spark.operators.dedup import (
        minhash_jaccard_estimate,
    )

    a = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank every morning before sunrise"
    )
    near = a.replace("lazy", "sleepy")
    other = (
        "completely different legal boilerplate about warranty and "
        "liability limitation for software products sold worldwide"
    )
    docs = spark.createDataFrame(
        [(1, a), (2, a), (3, near), (4, other)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_jaccard_estimate(docs, pairs).collect()
    }
    assert est[(1, 2)] == 1.0
    assert est[(1, 2)] > est[(1, 3)] > est[(1, 4)]
    # python exact Jaccard of 3-shingle sets for the near pair
    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    exact = len(sh(a) & sh(near)) / len(sh(a) | sh(near))
    assert abs(est[(1, 3)] - exact) <= 0.25  # k=16: +-1/16 granularity


def test_split_no_leakage_keeps_clusters_together(spark):
    """Every member of a near-dup cluster must land in ONE split even
    when their per-doc hashes disagree; docs with no near-dup match
    train_split exactly (same hash, same buckets)."""
    from mapreduce_chisquare_spark.operators.curation import (
        split_no_leakage,
        train_split,
    )

    dup = (
        "shared boilerplate paragraph that repeats across documents "
        "word for word in every mirror of the original page exactly"
    )
    # NOTE: singleton texts must share NO 3-shingles — the tokenizer
    # strips digits and even a common sentence template collides under
    # the high-recall (16, 8) screen — so each doc draws 7 pseudo-words
    # from its own disjoint slice of a synthetic vocabulary
    import itertools

    syll = "ba ce di fo gu ha ki lo mu ne pi ro sa te vi".split()
    vocab = ["".join(p) for p in itertools.product(syll, repeat=2)]
    rows = [(i, dup) for i in range(1, 40)] + [
        (100 + i, " ".join(vocab[7 * i : 7 * i + 7]))
        for i in range(1, 30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    leak_safe = {
        r.doc_id: r.split for r in split_no_leakage(docs).collect()
    }
    naive = {r.doc_id: r.split for r in train_split(docs).collect()}
    dup_ids = [i for i in range(1, 40)]
    assert len({leak_safe[i] for i in dup_ids}) == 1  # one split
    assert len({naive[i] for i in dup_ids}) > 1  # per-doc hash straddles
    for i in range(101, 130):  # singletons: identical to train_split
        assert leak_safe[i] == naive[i]


def test_winnowing_guarantee_and_density(spark):
    """The winnowing guarantee: documents sharing a substring of
    length >= gram + window - 1 (= 8 chars) share at least one
    fingerprint; fingerprints are far fewer than grams; sub-gram
    documents fingerprint as one whole-text hash."""
    from mapreduce_chisquare_spark.operators.textstats import (
        winnowing_fingerprint,
    )

    shared = "unmistakable-shared-run-of-text"
    docs = spark.createDataFrame(
        [
            (1, f"left context AAA {shared} right tail one"),
            (2, f"other words BBBB {shared} different ending"),
            (3, "nothing in common here at all with those"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    fps: dict[int, set] = {1: set(), 2: set(), 3: set(), 4: set()}
    for r in winnowing_fingerprint(docs).collect():
        fps[r.doc_id].add(r.fp)
    assert fps[1] & fps[2], "shared 31-char run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert len(fps[4]) == 1
    n_grams_1 = len(f"left context AAA {shared} right tail one") - 4
    assert len(fps[1]) < n_grams_1 / 2  # winnowed density, not all grams


def test_bm25_topk_retrieves_and_breaks_ties(spark):
    """The top-k combine must sum per-term scores in the query's
    written order, rank multi-term matches above single-term ones on
    this fixture, and cut deterministically (doc_id tie-break)."""
    from mapreduce_chisquare_spark.operators.textstats import (
        bm25,
        bm25_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "vector merge stream pipeline"),
            (2, "vector only document padding words here"),
            (3, "unrelated text about nothing relevant"),
            (4, "vector merge stream pipeline"),  # tie with doc 1
        ],
        "doc_id long, text string",
    )
    top = bm25_topk(docs, ["vector", "merge", "stream"], k=3).collect()
    ids = [r.doc_id for r in top]
    assert ids[:2] == [1, 4]  # equal scores -> doc_id ascending
    assert top[0].score == top[1].score
    assert ids[2] == 2 and len(ids) == 3  # doc 3 never scores
    # score equals the sum of the per-term relation's rows
    s = {
        (r.doc_id, r.term): r.bm25
        for r in bm25(docs)
        .filter(F.col("term").isin(["vector", "merge", "stream"]))
        .collect()
    }
    want = s[(1, "vector")] + s[(1, "merge")] + s[(1, "stream")]
    assert abs(top[0].score - want) < 1e-12


def test_winnowing_pairs_guarded_and_thresholded(spark):
    """Docs sharing a long run pair up with high n_shared; a universal
    boilerplate fingerprint (bucket > MAX_BUCKET would be dropped —
    here below the guard) still needs min_shared to matter; unrelated
    docs never pair."""
    from mapreduce_chisquare_spark.operators.dedup import (
        winnowing_pairs,
    )

    run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"{run} with a unique suffix here"),
            (2, f"{run} and a different ending text"),
            (3, "totally disjoint content qqq www zzz"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnowing_pairs(docs, min_shared=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 3
    assert all({a, b} == {1, 2} for a, b in pairs)


def test_row_local_band_keys_match_aggregate_form(spark, sf_dir):
    """The stateless per-row band-key expression must produce the
    exact (doc_id, band, key) relation of the aggregate lsh_band_keys
    pipeline — the equality that lets the streaming screen share the
    batch index — with NO caller-side guard: sub-shingle documents
    (planted here) must vanish from both relations identically, never
    emit NULL-filled keys that would bucket all short docs together."""
    from mapreduce_chisquare_spark.operators.dedup import (
        lsh_band_keys,
        shingles,
        with_row_local_band_keys,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(
        200
    ).unionByName(
        spark.createDataFrame(
            [(901, "two words"), (902, ""), (903, "one")],
            "doc_id long, text string",
        ).selectExpr(
            "doc_id", "text", "'xx' AS lang", "'t' AS source",
            "length(text) AS n_chars",
        )
    )
    agg = {
        (r.doc_id, r.band, tuple(r.key))
        for r in lsh_band_keys(shingles(docs)).collect()
    }
    row_local = {
        (r.doc_id, r.e.band, tuple(r.e.key))
        for r in with_row_local_band_keys(docs)
        .select("doc_id", F.explode(F.col("__bands")).alias("e"))
        .collect()
    }
    assert row_local == agg
    assert not any(d in (901, 902, 903) for d, _, _ in row_local)


def test_stream_neardup_flags_cross_side_collisions(spark):
    """The streamed screen must flag EXACTLY the band collisions the
    batch join produces (set equality, not a vacuous length check) —
    exercised through the registry entry so the memory-sink round
    trip is covered too."""
    import __spark_entry__ as entry_mod
    from mapreduce_chisquare_spark.operators.dedup import (
        lsh_band_keys,
        shingles,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.doc_id, r.band, r.dup_of)
        for r in entry_mod.queries()["stream_neardup"](
            spark, sf
        ).collect()
    }
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    bands = lsh_band_keys(shingles(docs))
    idx = bands.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("dup_of"), "band", "key"
    )
    new = bands.filter(F.col("doc_id") % 10 == 0)
    want = {
        (r.doc_id, r.band, r.dup_of)
        for r in new.join(idx, ["band", "key"])
        .select("doc_id", "band", "dup_of")
        .collect()
    }
    assert got == want and len(want) > 0


def test_normalize_and_dedup_normalized(spark):
    """Accent folding, punctuation squeeze, and case folding collapse
    the variant classes raw md5 dedup calls distinct; unrelated docs
    stay distinct."""
    from mapreduce_chisquare_spark.operators.textstats import (
        dedup_normalized,
        normalize_text,
    )

    docs = spark.createDataFrame(
        [
            (1, "Café naïve, RÉSUMÉ!"),
            (2, "cafe naive resume"),
            (3, "  cafe   naive -- resume?? "),
            (4, "entirely different words"),
        ],
        "doc_id long, text string",
    )
    norm = {r.doc_id: r.norm_text for r in normalize_text(docs).collect()}
    assert norm[1] == norm[2] == norm[3] == "cafe naive resume"
    assert norm[4] == "entirely different words"
    groups = dedup_normalized(docs).collect()
    assert len(groups) == 1
    assert groups[0].n_variants == 3 and groups[0].keep_doc_id == 1


def test_ts_paa_matches_hand_computation(spark):
    """PAA segment boundaries (floor(pos*segments/n)) and means match
    a literal python computation; series shorter than `segments`
    points are excluded."""
    import datetime as dt

    rows = []
    vals = [float(v) for v in range(1, 13)]  # user 1: 12 points
    for i, v in enumerate(vals):
        rows.append(
            (i, dt.datetime(2024, 1, 1, 0, i), 1, "view", v, "{}")
        )
    rows.append(  # user 2: 3 points < 8 segments -> excluded
        (100, dt.datetime(2024, 1, 1), 2, "view", 5.0, "{}")
    )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    from mapreduce_chisquare_spark.operators.timeseries import ts_paa

    got = {
        (r.user_id, r.seg): (r.paa_value, r.n_points)
        for r in ts_paa(ev).collect()
    }
    assert not any(u == 2 for u, _ in got)
    segs: dict[int, list[float]] = {}
    for pos, v in enumerate(vals):
        segs.setdefault(pos * 8 // 12, []).append(v)
    for s, vs in segs.items():
        pv, n = got[(1, s)]
        assert n == len(vs) and abs(pv - sum(vs) / n) < 1e-12


def test_ts_similarity_ranks_planted_clone_first(spark):
    """A series identical to the query's must rank 1 with dist2 = 0;
    a far-off series ranks behind a near one."""
    import datetime as dt

    def series(uid, base, off):
        return [
            (
                uid * 1000 + i,
                dt.datetime(2024, 1, 1, 0, i),
                uid,
                "view",
                float(base + i % 4 + off),
                "{}",
            )
            for i in range(16)
        ]

    rows = (
        series(0, 10, 0)       # query
        + series(1, 10, 0)     # clone: dist2 == 0
        + series(2, 10, 0.5)   # near
        + series(3, 50, 0)     # far
    )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_similarity_topk,
    )

    out = ts_similarity_topk(ev, query_user=0, k=3).collect()
    assert [r.user_id for r in out] == [1, 2, 3]
    assert out[0].dist2 == 0.0
    assert out[1].dist2 < out[2].dist2


def test_bm25_topk_deduplicates_query_terms(spark):
    """Duplicate query terms count once: each would otherwise pivot
    into its own column holding the same score and sum twice."""
    from mapreduce_chisquare_spark.operators.textstats import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "vector merge stream pipeline"),
            (2, "vector only document padding words here"),
            (3, "unrelated text about nothing relevant"),
        ],
        "doc_id long, text string",
    )
    once = bm25_topk(docs, ["vector", "merge"], k=3).collect()
    twice = bm25_topk(
        docs, ["vector", "vector", "merge", "vector"], k=3
    ).collect()
    assert [(r.doc_id, r.score) for r in once] == [
        (r.doc_id, r.score) for r in twice
    ]


def test_dedup_normalized_skips_empty_normalizations(spark):
    """Docs whose normalization is empty (pure punctuation/symbols)
    are NOT variants of one another and must not merge into a fake
    duplicate group."""
    from mapreduce_chisquare_spark.operators.textstats import (
        dedup_normalized,
    )

    docs = spark.createDataFrame(
        [
            (1, "!!! ??? ..."),
            (2, "@@@ ###"),
            (3, "---"),
            (4, "real words here"),
            (5, "Real! Words! Here!"),
        ],
        "doc_id long, text string",
    )
    groups = dedup_normalized(docs).collect()
    assert len(groups) == 1
    assert groups[0].n_variants == 2 and groups[0].keep_doc_id == 4


def test_ts_similarity_refined_reorders_and_is_provably_exact(spark):
    """The refine step of the PAA index: (a) the coarse distance is a
    LOWER BOUND of the refined distance after the (grid/segments)
    rescale; (b) refinement fixes a coarse mis-ranking the sketch
    cannot see (within-segment oscillation averages to zero); (c)
    whenever the k-th refined distance <= the rescaled best coarse
    distance among NON-shortlisted users, the refined top-k equals
    the brute-force exact top-k over the raw series."""
    import datetime as dt

    n, segments, grid, shortlist, k = 16, 4, 16, 6, 3

    def series(uid, offsets):
        return [
            (
                uid * 1000 + i,
                dt.datetime(2024, 1, 1, 0, i),
                uid,
                "view",
                float(10 + (i % 4)) + offsets[i],
                "{}",
            )
            for i in range(n)
        ]

    flat = lambda c: [c] * n  # noqa: E731
    osc = [1.0 if i % 2 == 0 else -1.0 for i in range(n)]
    fixture = {0: flat(0.0), 1: flat(0.0), 2: osc, 3: flat(0.5)}
    for u in range(4, 21):
        fixture[u] = flat(float(u))
    rows = [r for u, off in fixture.items() for r in series(u, off)]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_similarity_refined,
    )

    out = ts_similarity_refined(
        ev, query_user=0, k=k, segments=segments,
        shortlist=shortlist, grid=grid,
    ).collect()
    scale = grid / segments
    # (a) lower bound holds on every returned row
    for r in out:
        assert r.paa_dist2 * scale <= r.dist2 + 1e-9
    # (b) coarse ranks the oscillating user 2 at dist 0 (tied with
    # the true clone); refined demotes it below the flat +0.5 user 3
    assert [r.user_id for r in out] == [1, 3, 2]
    assert out[0].dist2 == 0.0
    # (c) provable exactness: brute-force exact top-k over raw series
    q = fixture[0]
    exact = sorted(
        (
            sum(
                (off[i] - q[i]) ** 2 for i in range(n)
            ),
            u,
        )
        for u, off in fixture.items()
        if u != 0
    )
    brute = [u for _, u in exact[:k]]
    # rescaled best coarse distance among users outside the shortlist
    # (flat offsets: paa_dist2 = segments * c^2); shortlist holds the
    # 6 coarsely-nearest users, so user 7.. are excluded
    min_excluded_paa = segments * float(7) ** 2
    assert out[-1].dist2 <= scale * min_excluded_paa
    assert [r.user_id for r in out] == brute


def test_winnowing_poly_and_md5_ladders_agree_on_planted_pairs(spark):
    """The polynomial hash is a drop-in for the md5 ladder: fp VALUES
    differ, but the winnowing guarantee is hash-independent, so both
    variants must connect the planted near-dup pair and neither may
    connect the unrelated doc. Cross-checks the 1.65x-faster default
    against the reference construction."""
    from mapreduce_chisquare_spark.operators.textstats import (
        winnowing_fingerprint,
    )

    shared = "boilerplate footer every mirror page carries verbatim"
    docs = spark.createDataFrame(
        [
            (1, f"alpha preamble {shared} omega suffix"),
            (2, f"zeta intro {shared} closing words"),
            (3, "disjoint pseudowords qvx brm klp wzn drf"),
        ],
        "doc_id long, text string",
    )
    for variant in ("poly", "md5"):
        fps: dict[int, set] = {1: set(), 2: set(), 3: set()}
        for r in winnowing_fingerprint(docs, hash_fn=variant).collect():
            fps[r.doc_id].add(r.fp)
        assert fps[1] & fps[2], variant
        assert not (fps[1] & fps[3]) and not (fps[2] & fps[3]), variant


def test_ts_sax_words_and_integer_boundaries(spark):
    """SAX symbolization: known segment means map to the expected
    word, and a mean EXACTLY on a breakpoint takes the upper symbol
    via the exact integer comparison (sc >= b*n) — no float boundary
    to flake on."""
    import datetime as dt

    from mapreduce_chisquare_spark.operators.timeseries import ts_sax

    # user 1: 8 points, segments=4 -> means 10, 30, 60, 90
    # vs breaks (20, 50, 80) dollars -> symbols 0, 1, 2, 3
    vals1 = [10.0, 10.0, 30.0, 30.0, 60.0, 60.0, 90.0, 90.0]
    # user 2: means exactly ON the breakpoints: 20, 50, 80, 80
    vals2 = [20.0, 20.0, 50.0, 50.0, 80.0, 80.0, 80.0, 80.0]
    rows = []
    for u, vals in ((1, vals1), (2, vals2)):
        for i, v in enumerate(vals):
            rows.append(
                (u * 100 + i, dt.datetime(2024, 1, 1, 0, i), u, "view", v, "{}")
            )
    rows.append((999, dt.datetime(2024, 1, 1), 3, "view", 5.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    got = {r.user_id: (r.sax_word, r.card) for r in ts_sax(ev, segments=4).collect()}
    assert got == {1: ("0123", 4), 2: ("1233", 4)}  # user 3 too short


def test_ts_sax_group_collects_same_shape_series(spark):
    """Two series with the same quantized shape share a SAX word and
    group; a different-shape series stays a singleton (excluded)."""
    import datetime as dt

    from mapreduce_chisquare_spark.operators.timeseries import ts_sax_group

    def series(uid, vals):
        return [
            (uid * 100 + i, dt.datetime(2024, 1, 1, 0, i), uid, "view", v, "{}")
            for i, v in enumerate(vals)
        ]

    up = [10.0, 10.0, 30.0, 30.0, 60.0, 60.0, 90.0, 90.0]
    up_jitter = [12.0, 14.0, 31.0, 29.0, 61.0, 59.0, 95.0, 85.0]
    down = list(reversed(up))
    rows = series(1, up) + series(2, up_jitter) + series(3, down)
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    out = ts_sax_group(ev, segments=4).collect()
    assert len(out) == 1
    assert (out[0].sax_word, out[0].n_users, out[0].min_user) == ("0123", 2, 1)


def test_semantic_dedup_drops_clones_keeps_originals(spark):
    """SemDeDup keep-rule: within a cluster, an item is dropped iff a
    LOWER-id mate reaches the threshold; cross-cluster near-dups are
    NOT compared (the paper's trade); dup_of is the smallest
    qualifying mate."""
    # 4-dim embeddings, two obvious regions; centroids passed
    # explicitly so the test pins the keep-rule, not the fit
    e = {
        10: [1.0, 0.0, 0.0, 0.0],
        11: [0.999, 0.01, 0.0, 0.0],   # clone of 10 -> dropped
        12: [0.998, 0.02, 0.001, 0.0],  # clone of 10/11 -> dropped
        20: [0.0, 1.0, 0.0, 0.0],
        21: [0.0, 0.0, 1.0, 0.0],      # same cluster A? no - region 2
    }
    emb = spark.createDataFrame(
        [(k, v) for k, v in e.items()], "vec_id long, embedding array<double>"
    )
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 1.0, 0.0]]
    out = {
        r.vec_id: (r.is_kept, r.dup_of)
        for r in ss.semantic_dedup(emb, threshold=0.9, cents=cents).collect()
    }
    assert out[10] == (True, None)
    assert out[11] == (False, 10)
    assert out[12] == (False, 10)  # min qualifying mate, not 11
    assert out[20] == (True, None)
    assert out[21] == (True, None)  # cos(20, 21) = 0 < threshold


def test_ts_sax_topk_mindist_lower_bounds_and_is_exact_when_uncut(spark):
    """Symbol-tier iSAX search: (a) mindist2 (cents^2) lower-bounds
    the exact squared PAA distance x 10^4 for every returned row;
    (b) with `shortlist` covering the corpus the final ranking equals
    ts_similarity_topk's exactly (no false dismissal through the
    symbol tier); (c) a far-off series scores a POSITIVE mindist2 —
    the separation that lets the symbol tier prune at all."""
    import datetime as dt

    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_similarity_sax_topk,
        ts_similarity_topk,
    )

    def series(uid, base, step):
        return [
            (
                uid * 1000 + i,
                dt.datetime(2024, 1, 1, 0, i),
                uid,
                "view",
                float(base + step * i),
                "{}",
            )
            for i in range(16)
        ]

    rows = (
        series(0, 10, 2)      # query: ramp 10..40
        + series(1, 11, 2)    # clone, +1 offset
        + series(2, 15, 2)    # near
        + series(3, 90, 0)    # flat far -> symbols 3,3,... vs query's
        + series(4, 12, 2)
    )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    out = ts_similarity_sax_topk(ev, query_user=0, k=4, shortlist=100).collect()
    brute = ts_similarity_topk(ev, query_user=0, k=4).collect()
    assert [(r.user_id, r.dist2) for r in out] == [
        (r.user_id, r.dist2) for r in brute
    ]
    for r in out:
        assert r.mindist2 <= r.dist2 * 10_000 + 1e-6, r
    far = {r.user_id: r.mindist2 for r in out}[3]
    assert far > 0


def test_ts_search_ladder_raises_on_degenerate_query(spark):
    """Guard consistency across the search ladder (round-8 ADVICE):
    BOTH ts_similarity_refined and ts_similarity_sax_topk raise
    ValueError — instead of silently returning an empty result — when
    the query user is missing or has fewer points than the tier
    needs, and neither pays a dedicated event-log scan to find out
    (the count comes off the materialized sketch relation)."""
    import datetime as dt

    import pytest as _pytest

    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_similarity_refined,
        ts_similarity_sax_topk,
    )

    rows = []
    for uid, npts in [(0, 16), (1, 16), (2, 16), (7, 3)]:
        rows += [
            (
                uid * 1000 + i,
                dt.datetime(2024, 1, 1, 0, i),
                uid,
                "view",
                float(10 + i % 4),
                "{}",
            )
            for i in range(npts)
        ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    # refined: query exists but lacks grid resolution — the coarse
    # sketch sees its TRUE point count, and the message reports it
    with _pytest.raises(ValueError, match="only 16 points, below grid=32"):
        ts_similarity_refined(ev, query_user=0, segments=4, grid=32)
    # refined: query user does not exist at all -> "no sketch rows"
    with _pytest.raises(ValueError, match="no sketch rows"):
        ts_similarity_refined(ev, query_user=42, segments=4, grid=8)
    # symbol tier: query below `segments` points (3 < 8) has no
    # sketch rows at that resolution — the message must not claim
    # the user has literally zero events
    with _pytest.raises(
        ValueError, match="no sketch rows.*below segments=8"
    ):
        ts_similarity_sax_topk(ev, query_user=7, segments=8)
    # symbol tier: nonexistent query user
    with _pytest.raises(ValueError, match="no sketch rows"):
        ts_similarity_sax_topk(ev, query_user=42, segments=8)
    # the guard must NOT fire for a well-resolved query
    ok = ts_similarity_refined(
        ev, query_user=0, k=2, segments=4, shortlist=4, grid=16
    ).collect()
    assert [r.user_id for r in ok] == [1, 2]


def test_auto_n_centroids_follows_paper_rule():
    """C ∝ N/target with the N_CENTROIDS floor: exact values at the
    stress scales (80k -> 800, 160k -> 1600 with target 100), ceil
    behavior between multiples, floor for tiny corpora, and an
    explicit target override."""
    from mapreduce_chisquare_spark.operators.simsearch import (
        N_CENTROIDS,
        auto_n_centroids,
    )

    assert auto_n_centroids(80_000) == 800
    assert auto_n_centroids(160_000) == 1_600
    assert auto_n_centroids(401) == 5  # ceil, not floor-div
    assert auto_n_centroids(1) == N_CENTROIDS
    assert auto_n_centroids(0) == N_CENTROIDS  # empty corpus: floor
    assert auto_n_centroids(10_000, target_cluster_size=1_000) == 10


def _py_banded_dtw(c, q, band):
    """Plain-Python reference of the banded DTW DP — the same cell
    formula and operation order as the Spark UDF and the DuckDB
    recursive CTE, so equality assertions can be bit-exact."""
    g = len(q)
    inf = float("inf")
    prev = [0.0] + [inf] * g
    for i in range(1, g + 1):
        cur = [inf] * (g + 1)
        for j in range(max(1, i - band), min(g, i + band) + 1):
            d = c[i - 1] - q[j - 1]
            m = prev[j]
            if prev[j - 1] < m:
                m = prev[j - 1]
            if cur[j - 1] < m:
                m = cur[j - 1]
            cur[j] = d * d + m
        prev = cur
    return prev[g]


def _py_lb_keogh(c, q, band):
    g = len(q)
    s = 0.0
    for j in range(g):
        u = max(q[max(0, j - band) : min(g, j + band + 1)])
        lo = min(q[max(0, j - band) : min(g, j + band + 1)])
        if c[j] > u:
            s += (c[j] - u) * (c[j] - u)
        elif c[j] < lo:
            s += (lo - c[j]) * (lo - c[j])
    return s


def test_ts_dtw_lb_keogh_bounds_and_no_false_dismissal(spark):
    """The elastic tier's contract: (a) LB_Keogh lower-bounds banded
    DTW² for EVERY corpus series (python reference over all users);
    (b) with the shortlist covering the corpus the Spark ranking
    equals brute-force banded DTW exactly — no false dismissal
    through the LB prune — and lb2/dtw2 match the reference
    BIT-EXACTLY (same operation order end to end); (c) warping is
    real: a phase-shifted copy of the query scores far below its
    lock-step Euclidean distance; (d) the ladder's degenerate-query
    ValueError contract holds."""
    import datetime as dt

    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_similarity_dtw_topk,
    )

    n = grid = 16
    band, k = 2, 5

    def vals(uid):
        if uid == 0:  # query: a ramp
            return [float(i) for i in range(n)]
        if uid == 1:  # one-step phase-shifted ramp: DTW sees through
            return [0.0] + [float(i) for i in range(n - 1)]
        if uid == 2:  # exact clone offset by a constant
            return [float(i) + 0.25 for i in range(n)]
        # deterministic pseudo-random background series
        return [float((uid * 31 + i * 17) % 23) for i in range(n)]

    rows = [
        (
            uid * 1000 + i,
            dt.datetime(2024, 1, 1, 0, i),
            uid,
            "view",
            vals(uid)[i],
            "{}",
        )
        for uid in range(10)
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    # cents quantization identical to ts_paa's exact-cents means
    ref = {
        uid: [round(v * 100) / 100.0 for v in vals(uid)]
        for uid in range(10)
    }
    q = ref[0]
    lbs = {u: _py_lb_keogh(ref[u], q, band) for u in ref if u != 0}
    dtws = {u: _py_banded_dtw(ref[u], q, band) for u in ref if u != 0}
    for u in lbs:  # (a) the bound, corpus-wide
        assert lbs[u] <= dtws[u] + 1e-12, (u, lbs[u], dtws[u])

    out = ts_similarity_dtw_topk(
        ev, query_user=0, k=k, grid=grid, band=band, shortlist=100
    ).collect()
    brute = sorted((dtws[u], u) for u in dtws)[:k]
    assert [r.user_id for r in out] == [u for _, u in brute]  # (b)
    for r in out:
        assert r.dtw2 == dtws[r.user_id], r  # bit-exact
        assert r.lb2 == lbs[r.user_id], r
        assert r.lb2 <= r.dtw2
    # (c) elasticity: user 1's lock-step Euclidean distance is 15x
    # its banded DTW (the warp path absorbs the phase shift)
    euclid1 = sum((a - b) * (a - b) for a, b in zip(ref[1], q))
    assert dtws[1] * 10 < euclid1
    assert out[0].user_id == 1  # the shifted ramp is the top hit
    # (d) degenerate query raises, same contract as the other tiers
    import pytest as _pytest

    with _pytest.raises(ValueError, match="below grid=32"):
        ts_similarity_dtw_topk(ev, query_user=0, grid=32)


def test_kmeans_seeds_survive_sparse_vec_ids(spark):
    """Round-8 review fix: kmeans_centroids seeds from the k SMALLEST
    vec_ids (identical to the old `vec_id < k` on dense 0..N-1 ids,
    which is what every oracle fixture uses) — so a corpus whose ids
    start at an offset (post-filter, post-dedup) still gets k real
    seeds instead of silently fitting fewer (or zero) centroids and
    defeating auto_n_centroids' bounded-cluster rule. An empty corpus
    raises instead of fitting nothing."""
    import pytest as _pytest

    from mapreduce_chisquare_spark.operators import simsearch as ss

    dim = ss.DIM
    rows = [
        (100_000 + i, [float((i * 7 + d) % 5) for d in range(dim)], "x")
        for i in range(12)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    cents = ss.kmeans_centroids(emb, k=4, iters=1)
    assert len(cents) == 4 and all(len(c) == dim for c in cents)
    out = ss.semantic_dedup(emb, threshold=0.99, cents=cents).collect()
    assert len(out) == 12  # every row gets a verdict
    empty = emb.filter(F.col("vec_id") < 0)
    with _pytest.raises(ValueError, match="empty embedding corpus"):
        ss.kmeans_centroids(empty, k=4, iters=1)


def test_pq_codebooks_survive_sparse_vec_ids(spark):
    """Round-11 fix (round-10 verdict #2): pq_codebooks kept the old
    `vec_id < k` seed filter after kmeans_centroids was fixed — on a
    sparse id space (post-dedup corpus, offset ids) it silently found
    zero seeds and collapsed the whole PQ/SQ fit. Now it seeds from
    the k SMALLEST vec_ids like kmeans_centroids, raises on an empty
    corpus, and pads when the corpus has fewer rows than codewords."""
    import pytest as _pytest

    from mapreduce_chisquare_spark.operators import simsearch as ss

    dim = ss.DIM
    rows = [
        (100_000 + i, [float((i * 7 + d) % 5) for d in range(dim)], "x")
        for i in range(12)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    books = ss.pq_codebooks(emb, m_sub=ss.M_SUB, k=ss.K_SUB, iters=1)
    assert len(books) == ss.M_SUB
    sub_dim = dim // ss.M_SUB
    for bm in books:
        assert len(bm) == ss.K_SUB
        assert all(len(code) == sub_dim for code in bm)
    # dense ids must fit IDENTICAL books to the equivalent `vec_id<k`
    # corpus — the oracle twins' seed CTEs rely on this equivalence
    dense = spark.createDataFrame(
        [(i, v, s) for i, (_, v, s) in enumerate(rows)],
        "vec_id long, embedding array<float>, label string",
    )
    assert ss.pq_codebooks(dense, iters=1) == ss.pq_codebooks(
        dense.filter(F.col("vec_id") >= 0), iters=1
    )
    # fewer rows than codewords: pad, don't crash
    tiny = emb.orderBy("vec_id").limit(2)
    books2 = ss.pq_codebooks(tiny, m_sub=ss.M_SUB, k=ss.K_SUB, iters=1)
    assert len(books2[0]) == ss.K_SUB
    empty = emb.filter(F.col("vec_id") < 0)
    with _pytest.raises(ValueError, match="empty embedding corpus"):
        ss.pq_codebooks(empty, iters=1)


def test_ts_motif_finds_planted_repeat_and_matches_brute_force(spark):
    """Motif discovery contract: (a) a planted repeated 8-cell shape
    at offsets 3 and 20 wins with dist2 == 0.0 exactly; (b) every
    winner respects the exclusion zone (|a-b| > m//2); (c) for every
    series the winner equals a plain-Python brute force over the same
    cents-quantized cells, bit-exactly (same offset-order fold)."""
    import datetime as dt

    from mapreduce_chisquare_spark.operators.timeseries import ts_motif

    n = grid = 32
    m, excl = 8, 4
    pattern = [5.0, 1.0, 4.0, 2.0, 8.0, 3.0, 9.0, 7.0]

    def vals(uid):
        if uid == 0:  # planted motif at 3 and 20
            v = [100.0 + 3 * i for i in range(n)]
            v[3 : 3 + m] = pattern
            v[20 : 20 + m] = pattern
            return v
        # distinct pseudo-random series, no planted structure
        return [float((uid * 37 + i * 13) % 41) for i in range(n)]

    rows = [
        (
            uid * 1000 + i,
            dt.datetime(2024, 1, 1, 0, i),
            uid,
            "view",
            vals(uid)[i],
            "{}",
        )
        for uid in range(6)
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    out = {
        r.user_id: (r.start_a, r.start_b, r.dist2)
        for r in ts_motif(ev, grid=grid, m=m).collect()
    }
    assert out[0] == (3, 20, 0.0)  # (a) the planted repeat, exactly
    for uid, (a, b, d) in out.items():
        assert b - a > excl, (uid, a, b)  # (b) exclusion zone
        cells = [round(v * 100) / 100.0 for v in vals(uid)]
        best = None
        for pa in range(n - m + 1):  # (c) brute-force reference
            for pb in range(pa + excl + 1, n - m + 1):
                s = 0.0
                for o in range(m):
                    dd = cells[pa + o] - cells[pb + o]
                    s += dd * dd
                cand = (s, pa, pb)
                if best is None or cand < best:
                    best = cand
        assert (a, b, d) == (best[1], best[2], best[0]), uid


def test_ts_discord_finds_planted_anomaly_and_matches_brute_force(spark):
    """Discord contract: (a) a series that repeats a 4-cell shape
    everywhere except one wildly different window puts the discord
    inside that window with the exact brute-force nn distance; (b)
    every reported start respects the guard (a valid partner always
    exists); (c) for every series the winner equals a plain-Python
    brute force over the same cents-quantized cells, bit-exactly
    (inner sums in offset order, min/max order-insensitive)."""
    import datetime as dt

    from mapreduce_chisquare_spark.operators.timeseries import ts_discord

    n = grid = 32
    m, excl = 8, 4

    def vals(uid):
        if uid == 0:  # period-4 sawtooth with a burst at offsets 12..19
            v = [float([1, 5, 2, 7][i % 4]) for i in range(n)]
            for j in range(12, 20):
                v[j] = 60.0 + 7.0 * (j % 3)
            return v
        # distinct pseudo-random series, no planted structure
        return [float((uid * 53 + i * 17) % 37) for i in range(n)]

    rows = [
        (
            uid * 1000 + i,
            dt.datetime(2024, 1, 1, 0, i),
            uid,
            "view",
            vals(uid)[i],
            "{}",
        )
        for uid in range(6)
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    out = {
        r.user_id: (r.start, r.nn_dist2)
        for r in ts_discord(ev, grid=grid, m=m).collect()
    }
    assert len(out) == 6
    s = n - m + 1
    for uid, (a, d) in out.items():
        assert 0 <= a < s, (uid, a)
        cells = [round(v * 100) / 100.0 for v in vals(uid)]
        profile = []
        for pa in range(s):  # (c) brute-force matrix profile
            nn = None
            for pb in range(s):
                if abs(pb - pa) <= excl:
                    continue
                acc = 0.0
                for o in range(m):
                    dd = cells[pa + o] - cells[pb + o]
                    acc += dd * dd
                if nn is None or acc < nn:
                    nn = acc
            profile.append((pa, nn))
        best = max(profile, key=lambda t: (t[1], -t[0]))
        assert (a, d) == best, (uid, (a, d), best)
    # (a) the planted burst: discord window overlaps offsets 12..19
    assert 12 - m < out[0][0] < 20, out[0]


def test_matrix_profile_guards_align_with_partner_existence(spark):
    """Discord refuses configs where some start has no valid partner
    (s < 2*exclusion + 2) and accepts the exact even boundary
    s == 2*exclusion + 2, where every start pairs up (a=2 with b=5,
    a=3 with b=0, ...); motif refuses configs admitting no pair at
    all (s <= exclusion + 1) instead of silently returning empty."""
    import pytest as _pt

    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_discord,
        ts_motif,
    )

    ev = spark.range(0).selectExpr(
        "id AS event_id", "current_timestamp() AS ts", "id AS user_id",
        "'view' AS event_type", "CAST(id AS DOUBLE) AS value",
        "'{}' AS props",
    )
    with _pt.raises(ValueError, match="valid partner"):
        ts_discord(ev, grid=12, m=8, exclusion=4)  # s=5 < 10
    with _pt.raises(ValueError, match="valid partner"):
        ts_discord(ev, grid=12, m=8, exclusion=2)  # s=5 < 6: a=2 starves
    assert ts_discord(ev, grid=13, m=8, exclusion=2).count() == 0  # s=6: ok
    with _pt.raises(ValueError, match="exceeds grid"):
        ts_discord(ev, grid=8, m=9)
    with _pt.raises(ValueError, match="no candidate pair"):
        ts_motif(ev, grid=12, m=8, exclusion=4)  # s=5 <= 5: b-a>4 empty
    assert ts_motif(ev, grid=13, m=8, exclusion=4).count() == 0  # s=6: ok


def _py_bpe_train(words, n):
    """The ONE plain-Python greedy BPE reference (Sennrich 2016
    semantics: frequency-weighted pair counts, ties count-desc then
    (left, right) asc, greedy one-pass left-to-right application).
    Returns (merges, snaps): the (rank, l, r, count) decisions and a
    per-round snapshot of the symbol vocabulary."""
    vocab = {w: list(w) for w in words}
    merges, snaps = [], []
    for rnd in range(1, n + 1):
        from collections import Counter as _C

        pc = _C()
        for w, cnt in words.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += cnt
        if not pc:
            break
        top = max(pc.values())
        ll, rr = min(p for p, c in pc.items() if c == top)
        merges.append((rnd, ll, rr, top))
        for w, s in vocab.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == ll and s[i + 1] == rr:
                    out.append(ll + rr)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vocab[w] = out
        snaps.append({w: list(s) for w, s in vocab.items()})
    return merges, snaps


def test_bpe_merges_match_reference_greedy_bpe(spark):
    """bpe_merges contract vs a plain-Python greedy BPE trainer
    (Sennrich 2016 semantics): frequency-weighted pair counts, ties
    count-desc then (left, right) asc, greedy one-pass left-to-right
    merge application, later merges built on earlier merged symbols.
    The corpus plants the cross-symbol trap: after round 1 merges
    (x, a), the word 'xab' renders as symbols [xa, b] — round 2's
    merge (a, b) must NOT fire inside it (a literal substring match
    on an undelimited rendering would corrupt it to [x, ab])."""
    from collections import Counter

    from mapreduce_chisquare_spark.operators.textstats import (
        bpe_merges,
        bpe_pair_counts,
    )

    corpus = ("ab " * 5 + "xa " * 6 + "xab " * 3 + "aaaa " * 2).strip()
    docs = spark.createDataFrame(
        [(1, corpus, "en", "s")], "doc_id long, text string, lang string, source string"
    )
    n = 5
    got = [
        (r.rank, r.left, r.right, r.pair_count)
        for r in bpe_merges(docs, n_merges=n).orderBy("rank").collect()
    ]

    words = Counter(corpus.split())
    expected, snaps = _py_bpe_train(words, n)
    assert got == expected, (got, expected)
    # the traps really are in play: round 1 merged (x, a); round 2
    # merged (a, a) — one-pass greedy pairs 'aaaa' to [aa, aa], never
    # [aa, a, a]; round 3 merged (a, b) AFTER 'xab' became [xa, b],
    # and did NOT corrupt it to [x, ab] (cross-symbol false match)
    assert (got[0][1], got[0][2]) == ("x", "a")
    assert (got[1][1], got[1][2]) == ("a", "a")
    assert (got[2][1], got[2][2]) == ("a", "b")
    assert snaps[1]["aaaa"] == ["aa", "aa"]
    assert snaps[2]["xab"] == ["xa", "b"]

    # bpe_pair_counts equals round-1 counts restricted to char pairs
    pc1 = Counter()
    for w, cnt in words.items():
        for i in range(len(w) - 1):
            pc1[w[i : i + 2]] += cnt
    got_pc = {
        r.pair: r.pair_count for r in bpe_pair_counts(docs, k=50).collect()
    }
    assert got_pc == dict(pc1), (got_pc, pc1)


def test_bpe_vocab_matches_reference_token_counts(spark):
    """bpe_vocab contract: after the same n merges, corpus-level
    token counts equal the Python reference's final vocabulary token
    multiset weighted by word frequency."""
    from collections import Counter

    from mapreduce_chisquare_spark.operators.textstats import bpe_vocab

    corpus = ("ab " * 5 + "xa " * 6 + "xab " * 3 + "aaaa " * 2).strip()
    docs = spark.createDataFrame(
        [(1, corpus, "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    n = 5
    got = {
        r.token: r.token_count
        for r in bpe_vocab(docs, n_merges=n, k=100).collect()
    }

    words = Counter(corpus.split())
    _, snaps = _py_bpe_train(words, n)
    vocab = snaps[-1]
    ref = Counter()
    for w, cnt in words.items():
        for t in vocab[w]:
            ref[t] += cnt
    assert got == dict(ref), (got, ref)


def _mk_events(spark, series: dict):
    """series: {user_id: [values...]} -> events rows, one per minute."""
    import datetime as dt

    rows = [
        (
            uid * 10_000 + i,
            dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=i),
            uid,
            "view",
            float(v),
            "{}",
        )
        for uid, vals in series.items()
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )


def test_ts_changepoint_locates_planted_shift_and_matches_brute_force(
    spark,
):
    """CUSUM contract: (a) a clean level shift after position p makes
    p the argmax of |S_i| exactly; (b) every series' winner equals a
    plain-Python brute force over the exact integer statistic
    n*csum_i - i*SC, including tie-breaks; (c) single-point series
    are excluded."""
    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_changepoint,
    )

    series = {
        0: [10.0] * 12 + [50.0] * 18,  # shift after pos 12
        1: [5.0, 5.0, 5.0, 5.0],  # flat: all S_i = 0, tie -> pos 1
        2: [float((i * 7) % 13) for i in range(25)],  # pseudo-random
        3: [42.0],  # single point: excluded
        4: [1.0, 9.0, 1.0, 9.0, 1.0, 9.0],  # alternating
    }
    out = {
        r.user_id: (r.cp_pos, r.n_points, r.cusum)
        for r in ts_changepoint(_mk_events(spark, series)).collect()
    }
    assert 3 not in out
    assert set(out) == {0, 1, 2, 4}
    assert out[0][0] == 12  # (a) the planted shift point
    for uid, (cp, n, cus) in out.items():
        vals = series[uid]
        cents = [round(v * 100) for v in vals]
        sc, nn = sum(cents), len(cents)
        best = None
        run = 0
        for i in range(1, nn):  # positions 1..n-1
            run += cents[i - 1]
            s = nn * run - i * sc
            cand = (-abs(s), i, s)
            if best is None or cand < best:
                best = cand
        assert (cp, n) == (best[1], nn), (uid, cp, best)
        assert cus == best[2] / (100.0 * nn), (uid, cus, best)


def test_ts_anomaly_zscore_exact_decision_matches_brute_force(spark):
    """z-score contract: flags equal the exact integer rule
    (n*c - SC)^2 > 9*(n*SSQ - SC^2) for every event; a planted
    far-out spike among tight values is flagged; a zero-variance
    series flags nothing; reported z matches the shared double
    formula."""
    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_anomaly_zscore,
    )

    series = {
        0: [10.0] * 30 + [99.0],  # spike at the end
        1: [7.0] * 10,  # zero variance: nothing
        2: [float((i * 11) % 17) for i in range(40)],  # spread: nothing at 3 sigma
        3: [0.0] * 50 + [5.0] * 2 + [200.0],  # spike above a bimodal base
    }
    ev = _mk_events(spark, series)
    got = {
        (r.user_id, r.event_id): r.z
        for r in ts_anomaly_zscore(ev).collect()
    }
    expected = {}
    for uid, vals in series.items():
        cents = [round(v * 100) for v in vals]
        n, sc = len(cents), sum(cents)
        ssq = sum(c * c for c in cents)
        nvar = n * ssq - sc * sc
        for i, c in enumerate(cents):
            dev = n * c - sc
            if nvar > 0 and dev * dev > 9 * nvar:
                mean = sc / n
                # variance from the exact integer nvar (the operator's
                # round-9 contract), never the cancelling double form
                z = (c - mean) / ((nvar / (n * n)) ** 0.5)
                expected[(uid, uid * 10_000 + i)] = z
    assert set(got) == set(expected), (set(got), set(expected))
    assert (0, 30) in got and (3, 30052) in got
    assert not any(u == 1 for (u, _) in got)
    for k, z in got.items():
        assert abs(z - expected[k]) < 1e-12, (k, z, expected[k])


def test_ts_anomaly_zscore_z_finite_under_catastrophic_cancellation(
    spark,
):
    """Round-9 advisor regression: a huge-mean, tiny-variance series
    (values ~ $1M apart by 5 cents) makes the naive double variance
    ssq/n - mean² cancel to noise (true variance 0.78 while ssq/n and
    mean² are ~1e16 with ulp 2 — the subtraction yields 0 or 2, i.e.
    Inf or a 2.5x-wrong z) — the reported z must stay finite and
    close to the exact value dev/sqrt(nvar), because the operator
    derives the variance from the exact 128-bit nvar. Magnitude is
    kept inside the BIGINT ssq domain (cents 1e8: sum of squares
    ~3.1e17 << 2^63)."""
    import math

    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_anomaly_zscore,
    )

    base = 1_000_000.0  # cents = 1e8: ssq/n - mean² is pure noise
    series = {7: [base] * 30 + [base + 0.05]}
    rows = ts_anomaly_zscore(_mk_events(spark, series)).collect()
    assert len(rows) == 1 and rows[0].event_id == 70_030, rows
    z = rows[0].z
    assert math.isfinite(z), z
    # exact: dev = 150, nvar = 750, n = 31 -> z = dev / sqrt(nvar)
    exact = 150.0 / math.sqrt(750.0)
    assert abs(z - exact) / exact < 1e-5, (z, exact)


def test_ts_seasonality_strength_and_peak_hour(spark):
    """Seasonality contract: a series that is a pure function of
    hour-of-day scores strength == 1.0 exactly (SSE is exactly 0)
    with the true peak hour; an hour-independent constant series is
    excluded (zero variance); a noisy series' strength matches the
    one-way ANOVA R^2 brute force and stays in [0, 1]."""
    import datetime as dt

    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_seasonality,
    )

    rows = []
    for uid in (0, 1, 2):
        for i in range(240):  # 10 days x 24 hourly points
            h = i % 24
            if uid == 0:
                v = float(10 + (5 if h == 14 else 0) + h % 3)
            elif uid == 1:
                v = 7.0
            else:
                v = float((i * 13) % 29)
            rows.append(
                (
                    uid * 10_000 + i,
                    dt.datetime(2024, 1, 1, h, 0)
                    + dt.timedelta(days=i // 24),
                    uid,
                    "view",
                    v,
                    "{}",
                )
            )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    out = {
        r.user_id: (r.peak_hour, r.strength, r.n_points)
        for r in ts_seasonality(ev).collect()
    }
    assert 1 not in out  # zero variance excluded
    # user 0 is a pure function of hour: SSE == 0 -> strength exactly 1
    assert out[0][0] == 14 and out[0][1] == 1.0 and out[0][2] == 240
    # user 2: brute-force one-way ANOVA R^2 over hour buckets
    from collections import defaultdict

    buckets = defaultdict(list)
    vals = []
    for i in range(240):
        v = float((i * 13) % 29)
        buckets[i % 24].append(round(v * 100))
        vals.append(round(v * 100))
    n, sc = len(vals), sum(vals)
    ssq = sum(c * c for c in vals)
    sse = sum(
        sum(c * c for c in b) - (sum(b) / len(b)) * sum(b)
        for b in (buckets[h] for h in sorted(buckets))
    )
    sst = ssq - (sc / n) * sc
    ref = 1.0 - sse / sst
    got = out[2][1]
    assert 0.0 <= got <= 1.0
    assert abs(got - ref) < 1e-9, (got, ref)


def test_bpe_twins_survive_pair_exhaustion(spark):
    """Regression (round-8 review): when the vocabulary exhausts its
    pairs before n_merges rounds, the oracle twins must carry the
    vocabulary through the merge-free rounds instead of annihilating
    it (a cross join with an empty argmax CTE returned 0 rows while
    Spark returned the merged vocabulary). Pin Spark == DuckDB on an
    exhaustion corpus and on an all-single-char corpus (zero merges
    possible)."""
    import duckdb

    from mapreduce_chisquare_spark.operators.textstats import (
        bpe_merges,
        bpe_vocab,
    )
    from mapreduce_chisquare_spark.plans.ext_analytics_ext import (
        _sql_bpe_merges,
        _sql_bpe_vocab,
    )

    for corpus in ["ab ab ab", "a b c"]:
        docs = spark.createDataFrame(
            [(1, corpus, "en", "s")],
            "doc_id long, text string, lang string, source string",
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM (VALUES "
            f"(1, '{corpus}', 'en', 's')) t(doc_id, text, lang, source)"
        )
        got_m = sorted(tuple(r) for r in bpe_merges(docs).collect())
        ora_m = sorted(tuple(r) for r in con.execute(_sql_bpe_merges()).fetchall())
        assert got_m == ora_m, (corpus, got_m, ora_m)
        got_v = sorted(tuple(r) for r in bpe_vocab(docs).collect())
        ora_v = sorted(tuple(r) for r in con.execute(_sql_bpe_vocab()).fetchall())
        assert got_v == ora_v and got_v, (corpus, got_v, ora_v)


def test_stream_anomaly_screen_equals_batch_flags(spark):
    """The streaming screen (batch-trained profile broadcast into
    every micro-batch) must flag EXACTLY the batch operator's rows
    with identical z values — same exact integer decision, same
    double formula, no borderline drift between modes."""
    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_anomaly_zscore,
    )
    from mapreduce_chisquare_spark.sources.readers import scan_parquet
    from mapreduce_chisquare_spark.streaming.diagnostics import (
        anomaly_screen_stream,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        (r.user_id, r.event_id): r.z
        for r in ts_anomaly_zscore(
            scan_parquet(spark, sf, "events")
        ).collect()
    }
    stream = {
        (r.user_id, r.event_id): r.z
        for r in anomaly_screen_stream(spark, sf).collect()
    }
    assert batch and stream == batch


def test_ts_corr_topk_blocks_by_word_and_matches_brute_force(spark):
    """Cross-series correlation contract: (a) two users with the SAME
    shape (one a level-shifted copy small enough to stay in the same
    SAX cells) land in one bucket and top the ranking with corr ~ 1;
    (b) every scored pair matches a plain-Python Pearson over the
    same sketch cells (identical seg-ordered component sums); (c) a
    hot word with more members than max_bucket contributes NO pairs
    (the guard skips it)."""
    import datetime as dt

    from mapreduce_chisquare_spark.operators.timeseries import (
        ts_corr_topk,
        ts_paa,
        ts_sax,
    )

    n = 32

    def vals(uid):
        if uid in (0, 1):  # same shape, tiny level offset
            return [20.0 + 10.0 * ((i * 7) % 5) + uid * 0.1 for i in range(n)]
        if uid >= 100:  # the hot bucket: constant-ish, same word
            return [50.0 + (0.01 * uid if i == 0 else 0.0) for i in range(n)]
        return [float((uid * 31 + i * 11) % 83) for i in range(n)]

    uids = [0, 1, 2, 3] + list(range(100, 106))
    rows = [
        (
            uid * 1000 + i,
            dt.datetime(2024, 1, 1, 0, i),
            uid,
            "view",
            vals(uid)[i],
            "{}",
        )
        for uid in uids
        for i in range(n)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    out = [
        (r.user_a, r.user_b, r.corr)
        for r in ts_corr_topk(ev, k=50, max_bucket=4).collect()
    ]
    # (c) the 6-member hot bucket exceeds max_bucket=4: no pair from it
    assert not any(ua >= 100 or ub >= 100 for ua, ub, _ in out), out
    # (a) the planted shape pair ranks first, near-perfect correlation
    assert out and (out[0][0], out[0][1]) == (0, 1)
    assert out[0][2] > 0.999
    # (b) brute force: same buckets, same cells, same formula
    cells = {}
    for r in ts_paa(ev, 8).collect():
        cells.setdefault(r.user_id, {})[r.seg] = r.paa_value
    words = {r.user_id: r.sax_word for r in ts_sax(ev, 8).collect()}
    from collections import defaultdict

    buckets = defaultdict(list)
    for u, w in words.items():
        buckets[w].append(u)
    expected = []
    for w, us in buckets.items():
        if not (2 <= len(us) <= 4):
            continue
        us = sorted(us)
        for i in range(len(us)):
            for j in range(i + 1, len(us)):
                xs = [cells[us[i]][s] for s in range(8)]
                ys = [cells[us[j]][s] for s in range(8)]
                sx = sy = sxx = syy = sxy = 0.0
                for x, y in zip(xs, ys):
                    sx += x; sy += y
                    sxx += x * x; syy += y * y; sxy += x * y
                da, db = 8 * sxx - sx * sx, 8 * syy - sy * sy
                if da > 0 and db > 0:
                    expected.append(
                        (us[i], us[j], (8 * sxy - sx * sy)
                         / (da ** 0.5 * db ** 0.5))
                    )
    expected.sort(key=lambda t: (-t[2], t[0], t[1]))
    assert out == expected[: len(out)], (out, expected)


def test_dq_drift_psi_detects_planted_shift_and_matches_brute_force(
    spark,
):
    """PSI contract: a type whose value distribution jumps between
    halves scores high PSI; a stationary type scores near 0; every
    value matches a plain-Python reference of the exact contract
    (integer midpoint split, integer equal-width buckets against the
    reference bounds with edge clamping, Laplace shares, bucket-order
    term sum); a type with no reference rows is excluded."""
    import datetime as dt
    import math

    from mapreduce_chisquare_spark.operators.warehouse import dq_drift_psi

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0

    def emit(minute, etype, v):
        nonlocal eid
        rows.append(
            (eid, t0 + dt.timedelta(minutes=minute), 7, etype, float(v), "{}")
        )
        eid += 1

    for i in range(200):
        # 'drift': uniform 0..39 in the first half, 60..99 in the second
        emit(i, "drift", (i * 13) % 40 if i < 100 else 60 + (i * 13) % 40)
        # 'stable': same generator in both halves
        emit(i, "stable", (i * 7) % 50)
    for i in range(100, 200):
        emit(i, "newborn", i)  # second half only: no reference
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    out = {
        r.event_type: (r.psi, r.n_ref, r.n_cur)
        for r in dq_drift_psi(ev).collect()
    }
    assert "newborn" not in out
    assert out["stable"][0] < 0.1 < 1.0 < out["drift"][0]

    # brute force the exact contract
    from collections import defaultdict

    by_type = defaultdict(list)
    all_us = []
    for (e, ts, u, et, v, p) in rows:
        us = int(ts.timestamp() * 1_000_000)
        all_us.append(us)
        by_type[et].append((us, round(v * 100)))
    mid = (min(all_us) + max(all_us)) // 2
    B = 10
    for et, evs in by_type.items():
        ref = [c for us, c in evs if us < mid]
        cur = [c for us, c in evs if us >= mid]
        if not ref:
            continue
        allc = [c for _, c in evs]
        lo, hi = min(allc), max(allc)
        rc, cc = [0] * B, [0] * B
        for side, cs in ((rc, ref), (cc, cur)):
            for c in cs:
                b = max(0, min(B - 1, ((c - lo) * B) // (hi - lo + 1)))
                side[b] += 1
        psi = 0.0
        for i in range(B):
            p = (rc[i] + 1.0) / (len(ref) + float(B))
            q = (cc[i] + 1.0) / (len(cur) + float(B))
            psi = psi + (p - q) * math.log(p / q)
        got = out[et]
        assert got[1] == len(ref) and got[2] == len(cur), (et, got)
        assert abs(got[0] - psi) < 1e-12, (et, got[0], psi)
