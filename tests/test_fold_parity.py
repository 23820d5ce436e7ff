"""Cross-implementation parity pins for the driver-side literal
fold-ins: q_late_interaction and mmr_ann_pool_pairs compute
the QUESTION side of their probes in Python (so the probe keys become
plan-time literals / static partition filters), while the DOCUMENT
side runs the same arithmetic as Spark column expressions. The oracle
tests catch divergence on the golden data; these pin the folds
directly over a wider input space — including the non-ASCII range the
corpus could contain but the golden questions don't."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from document_query_system_spark.functions.hashing import MULT, P


def _py_tri_hashes(t: str) -> list[int]:
    return [
        ((ord(t[i]) * MULT + ord(t[i + 1])) % P * MULT + ord(t[i + 2])) % P
        for i in range(len(t) - 2)
    ]


def test_li_trigram_spark_fold_matches_python_twin(spark):
    """_li_tri_hashes (the doc-side Spark expression) must agree with
    the Python loop q_late_interaction uses for the literal question
    side — same fold, same guard for len<3 — across ASCII, digits,
    punctuation, accented Latin, and CJK (Spark's ascii() returns the
    Unicode code point of the first char, i.e. ord())."""
    from document_query_system_spark.operators.pipeline import _li_tri_hashes

    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789éñüßαβγ日本語-_'#%"
    toks = ["", "a", "ab", "abc", "abcd", "héllo", "ñandú", "日本語テスト"]
    toks += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(t,) for t in toks], "tok STRING").select(
        "tok", _li_tri_hashes(F.col("tok")).alias("h")
    )
    got = {}
    for r in df.collect():
        got.setdefault(r.tok, r.h)
    for t in set(toks):
        assert got[t] == _py_tri_hashes(t), repr(t)


def test_mmr_literal_buckets_match_spark_bucket_expr(spark, duck):
    """The driver fold of the sign-LSH probe (``lsh_probe_keys``, the
    literal probe keys of mmr_ann_pool_pairs → static PartitionFilters)
    must equal, bit for bit, the Spark ``lsh_tables``/``lsh_probes`` the
    stored LSH index and q_ann_multiprobe use and the DuckDB
    ``lsh_tables_sql`` the oracles use — on every golden question and
    on the zero vector, whose plane dots are exactly 0 (a sign test
    that put 0 on the other side would move its bucket). A one-sided
    divergence would silently drop the question's own bucket from the
    probe set."""
    from document_query_system_spark.functions.embed import DIM, embed_df
    from document_query_system_spark.operators.questions import (
        question_vector_rows,
        questions_df,
    )
    from document_query_system_spark.operators.retrieval import (
        PROBE_FLIPS,
        golden_vectors_sql,
        lsh_probe_keys,
        lsh_probes,
        lsh_tables,
        lsh_tables_sql,
    )
    from document_query_system_spark.sources.tables import local_rows

    rows = [(qid, v) for qid, _, v in question_vector_rows()] + [(0, [0.0] * DIM)]
    spark_vecs = local_rows(spark, rows, "id INT, v ARRAY<DOUBLE>")
    # Each engine also hashes its own embedding of the golden questions.
    spark_golden = embed_df(questions_df(spark), "question_text", out_col="v")
    spark_golden = spark_golden.withColumnRenamed("question_id", "id")
    duck.execute("CREATE OR REPLACE TEMP TABLE lsh_vecs (id INT, v DOUBLE[])")
    duck.executemany("INSERT INTO lsh_vecs VALUES (?, ?)", rows)
    for flips in ((0,), PROBE_FLIPS):
        driver = sorted(
            (i, t, b) for i, v in rows for t, b in lsh_probe_keys(v, flips)
        )
        golden = [r for r in driver if r[0]]

        def spark_keys(df):
            keys = df.select("id", lsh_tables(F.col("v"))).select(
                "id", "tbl", lsh_probes(F.col("bucket"), flips)
            )
            return sorted(tuple(r) for r in keys.collect())

        def duck_keys(sql):
            return sorted(duck.execute(sql).fetchall())

        assert spark_keys(spark_vecs) == driver, flips
        assert spark_keys(spark_golden) == golden, flips
        assert duck_keys(
            f"SELECT id, tbl, bucket FROM ({lsh_tables_sql('lsh_vecs', 'id', flips)})"
        ) == driver, flips
        assert duck_keys(
            f"""{golden_vectors_sql()}
SELECT question_id, tbl, bucket FROM ({lsh_tables_sql('qv', 'question_id', flips)})"""
        ) == golden, flips
    assert {b for i, _, b in driver if i == 0} == set(PROBE_FLIPS)


def test_hash_embed_batch_matches_per_row_twin_corpus_wide():
    """_hash_embed_batch (the vectorized Arrow kernel, r10 verdict #4)
    must be BIT-identical to _hash_embed_py on every document of the
    sf0.01 corpus — the kernel's np.unique+round() scatter exists
    precisely so decimal rounding is the same correctly-rounded
    Python round() the per-row twin uses, never np.round's
    scale/rint/unscale approximation."""
    import pyarrow.parquet as pq

    from document_query_system_spark.functions.embed import (
        _hash_embed_batch,
        _hash_embed_py,
    )

    texts = (
        pq.read_table("/root/testdata/sf0.01/documents.parquet", columns=["text"])
        .column("text")
        .to_pylist()
    )
    got = _hash_embed_batch(texts)
    assert len(got) == len(texts)
    for t, g in zip(texts, got):
        assert g == _hash_embed_py(t), t[:80]


def test_hash_embed_batch_matches_per_row_twin_adversarial():
    """Same pin over inputs the corpus may not exercise: empty text,
    whitespace runs, single repeated token (count == sqrt pressure),
    non-ASCII, and random token soup — plus cache-reuse across calls
    (the token memo must never change a result, only its cost)."""
    import random

    from document_query_system_spark.functions.embed import (
        _hash_embed_batch,
        _hash_embed_py,
    )

    rng = random.Random(11)
    vocab = ["alpha", "bê:ta", "γάμμα", "日本語", "x", "-", "word" * 30]
    cases = ["", " ", "   ", "a", "a a a a a a a a", "日本語 日本語 ñ"]
    cases += [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 200)))
        for _ in range(300)
    ]
    for got, t in zip(_hash_embed_batch(cases), cases):
        assert got == _hash_embed_py(t), t[:80]
    # Second call: every token now hits the memo — results identical.
    for got, t in zip(_hash_embed_batch(cases), cases):
        assert got == _hash_embed_py(t), t[:80]


def test_token_cache_trim_is_bounded_and_keeps_young_half():
    """The memo's eviction must be a bounded HALF-trim, oldest
    inserted first (r11 ADVICE: a wholesale clear() also evicted the
    Zipf-head tokens the memo exists for) — and trimming must never
    change results, only costs."""
    from document_query_system_spark.functions import embed as E

    cache = {f"t{i}": i for i in range(10)}
    E._trim_token_cache(cache)
    assert cache == {f"t{i}": i for i in range(5, 10)}
    # Parity under forced trims: shrink the cap so the batch kernel
    # trims mid-batch, and pin results against the per-row twin.
    texts = [" ".join(f"tok{j}" for j in range(i, i + 40)) for i in range(50)]
    old_max, old_cache = E._TOKEN_CACHE_MAX, dict(E._TOKEN_BUCKETS)
    E._TOKEN_CACHE_MAX = 64
    E._TOKEN_BUCKETS.clear()
    try:
        got = E._hash_embed_batch(texts)
        assert len(E._TOKEN_BUCKETS) <= 64 + 1  # trim keeps the bound
        for g, t in zip(got, texts):
            assert g == E._hash_embed_py(t)
    finally:
        E._TOKEN_CACHE_MAX = old_max
        E._TOKEN_BUCKETS.clear()
        E._TOKEN_BUCKETS.update(old_cache)


def test_hash_embed_batch_matches_spark_embed_df(spark):
    """run_query(method="vector") embeds its question batch on the
    driver with _hash_embed_batch while the stored index and the
    oracle-checked queries use embed_df's Spark fold — the two must
    agree BIT for bit, on the golden questions and on the adversarial
    strings above (empty text, whitespace runs, repeated tokens,
    non-ASCII, token soup)."""
    from document_query_system_spark.functions.embed import (
        _hash_embed_batch,
        embed_df,
    )
    from document_query_system_spark.operators.questions import GOLDEN_QUESTIONS

    rng = random.Random(11)
    vocab = ["alpha", "bê:ta", "γάμμα", "日本語", "x", "-", "word" * 30]
    texts = [t for _, t in GOLDEN_QUESTIONS]
    texts += ["", " ", "   ", "a", "a a a a a a a a", "日本語 日本語 ñ"]
    texts += [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 200)))
        for _ in range(100)
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i INT, text STRING")
    got = {r.i: r.v for r in embed_df(df, "text", out_col="v").collect()}
    for i, want in enumerate(_hash_embed_batch(texts)):
        assert list(got[i]) == want, texts[i][:80]
