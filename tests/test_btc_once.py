"""build_training_corpus' stages each run once: the fused clean_corpus
gate, select_and_pack over the selection's own counts, the stage-2
clustering shortcut on digest-unique input, and no cache entry left
behind by the token-budget selection."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.operators import dedup, pipeline, sampling, textstats
from ocr_cezam_spark.plans.audit import formatted_plan


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_select_and_pack_leaves_no_cache_entry(spark):
    """The selection's narrow projection is checkpointed, not persisted:
    after a collect the session's CacheManager holds nothing, and a
    second call does not ask to cache already cached data."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i % 9 + 1))) for i in range(30)],
        "doc_id long, text string",
    )
    first = sampling.select_and_pack(docs, budget_tokens=60, pack=16)
    assert first.collect()
    assert cache.isEmpty()
    again = sampling.select_and_pack(docs, budget_tokens=60, pack=16)
    assert _rows(again) == _rows(first)
    assert cache.isEmpty()


def _old_clean_corpus(docs, max_freq, keep_text):
    """The two-gate reference: token_quality ⋈ gopher_quality over the
    representatives, joined back to them for the text."""
    cleaned = dedup.paragraph_dedup(docs, "doc_id", "text", max_freq)
    c = cleaned.filter(F.col("text_dedup") != "").select(
        "doc_id", F.col("text_dedup").alias("text"))
    keepers = (c.select("doc_id", F.md5("text").alias("digest"))
               .groupBy("digest").agg(F.min("doc_id").alias("doc_id")))
    reps = c.join(keepers.select("doc_id"), "doc_id", "left_semi")
    gated = reps.withColumn("text", F.translate("text", "\n", " "))
    tq = textstats.token_quality(gated).filter(F.col("quality_ok") == 1) \
        .select("doc_id", "n_tokens", "stopword_ratio", "avg_word_len")
    gq = textstats.gopher_quality(gated).filter(F.col("passes") == 1) \
        .select("doc_id", "mean_word_len", "alpha_word_frac")
    out = tq.join(gq, "doc_id")
    return out.join(reps, "doc_id") if keep_text else out


def test_clean_corpus_fused_gate_matches_two_gate_join(spark):
    boiler = "subscribe to the newsletter now"
    good = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the quiet woods tonight")
    rows = [
        (0, f"{good}\n{boiler}"),
        (1, f"{good}\n{boiler}\n{boiler}"),           # exact dup once cleaned
        (2, f"first part of the story is told here\n"
            f"and the second part follows it closely\n{boiler}"),
        (3, f"x1 y2 z3 9 8 77 66 55 44 33 22 11\n{boiler}"),  # digit-heavy
        (4, f"tiny doc\n{boiler}"),                   # fewer than 10 tokens
        (5, "double  spaces  between  every  word  of  this  long  "
            "sentence  here  okay"),
        (6, "words  with  some  double  spaces and single ones mixed "
            "in for good measure"),
        (7, boiler),                                  # emptied by para dedup
        (8, f"{boiler}\n{boiler}"),                   # emptied too
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for keep_text in (False, True):
        new = pipeline.clean_corpus(docs, max_freq=2, keep_text=keep_text)
        old = _old_clean_corpus(docs, 2, keep_text)
        assert new.columns == old.columns
        assert _rows(new) == _rows(old)
    kept = {r["doc_id"] for r in pipeline.clean_corpus(
        docs, max_freq=2).collect()}
    # the gates both keep and drop something here: 0 and 2 pass, 1 is a
    # duplicate of 0, 3/4 fail, 7/8 are emptied by paragraph dedup
    assert {0, 2} <= kept and not kept & {1, 3, 4, 7, 8}


def test_select_and_pack_packs_the_selection(spark):
    rows = [
        (1, "a  b   c d"),
        (2, ""),
        (3, "   "),
        (4, "x y  z x y z"),
        (5, " lead and trail "),
        (6, "p q r s t u v w"),
        (7, "m  m  m  n"),
        (10, "one two three four five six"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for budget in (0, 9, 18, 100):
        got = sampling.select_and_pack(docs, budget_tokens=budget, pack=4,
                                       n_shards=3)
        sel = sampling.token_budget_select(docs, budget)
        ref = textstats.sequence_pack(
            docs.join(sel.select("doc_id"), "doc_id", "left_semi"),
            budget=4, n_shards=3)
        assert got.schema == ref.schema
        assert _rows(got) == _rows(ref)


def test_select_and_pack_plan_has_no_join(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i} common tok{i % 5} end") for i in range(40)],
        "doc_id long, text string",
    )
    plan = formatted_plan(sampling.select_and_pack(docs, budget_tokens=50))
    assert "Join" not in plan, plan


def test_stage2_shortcut_matches_cluster_members(spark):
    """On digest-unique input the direct LSH + connected-components
    component per id equals cluster_members' component."""
    base = [f"t{j}" for j in range(60)]
    chain = [list(base)]
    for step in range(1, 5):  # each link changes two more words
        nxt = list(chain[-1])
        nxt[step * 11] = f"c{step}a"
        nxt[step * 11 + 5] = f"c{step}b"
        chain.append(nxt)
    rows = [(10 + i, " ".join(ws)) for i, ws in enumerate(chain)]
    rows += [(100 + i, " ".join(f"s{i}w{j}" for j in range(30)))
             for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert docs.select(F.md5("text")).distinct().count() == len(rows)
    direct = pipeline._with_near_dup_component(docs, "doc_id", "text")
    got = dict(direct.select("doc_id", "component").collect())
    ref = dict(dedup.cluster_members(docs).select("doc_id", "component")
               .collect())
    assert got == ref
    assert {got[10 + i] for i in range(5)} == {10}  # the chain is one cluster
    assert all(got[100 + i] == 100 + i for i in range(6))  # singletons
