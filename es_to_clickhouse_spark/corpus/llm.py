"""Corpus: LLM-data-pipeline operators (dedup d*, similarity sim*, text
txt*, multimodal mm*) — each built on es_to_clickhouse_spark.operators and
oracle-checked in DuckDB wherever SQL can express it.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from es_to_clickhouse_spark.corpus import query, t
from es_to_clickhouse_spark.operators import multimodal, similarity, text
from es_to_clickhouse_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_buckets,
    minhash_signature,
)

# ------------------------------------------------------------------ dedup


@query(
    "d1_exact_dedup",
    """
    SELECT text, min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def d1_exact_dedup(spark, sf_dir):
    """Exact dedup by content: deterministic winner per duplicate group."""
    return exact_dedup(t(spark, sf_dir, "documents"), ["text"], "doc_id")


@query(
    "d2_fingerprint_dedup",
    """
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def d2_fingerprint_dedup(spark, sf_dir):
    """Exact dedup by md5 fingerprint — the shuffle key is a uniform
    128-bit hash, the only skew-proof exact-dedup strategy at 100 TB."""
    fp = text.fingerprint(t(spark, sf_dir, "documents"))
    return exact_dedup(fp, ["fingerprint"], "doc_id")


@query(
    "d3_minhash_signature",
    """
    WITH tok AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS ts
      FROM documents
    )
    SELECT doc_id,
           list_aggregate(list_transform(ts, x -> md5('0:' || x)), 'min') AS mh0,
           list_aggregate(list_transform(ts, x -> md5('1:' || x)), 'min') AS mh1,
           list_aggregate(list_transform(ts, x -> md5('2:' || x)), 'min') AS mh2,
           list_aggregate(list_transform(ts, x -> md5('3:' || x)), 'min') AS mh3
    FROM tok
    """,
)
def d3_minhash_signature(spark, sf_dir):
    """MinHash signatures (k=4) as pure Column expressions — md5-based so
    the oracle reproduces them bit-for-bit."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", *minhash_signature(F.col("text"), k=4))


@query(
    "d4_lsh_band_buckets",
    """
    WITH tok AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS ts
      FROM documents
    ), sig AS (
      SELECT doc_id,
             list_aggregate(list_transform(ts, x -> md5('0:' || x)), 'min') AS mh0,
             list_aggregate(list_transform(ts, x -> md5('1:' || x)), 'min') AS mh1,
             list_aggregate(list_transform(ts, x -> md5('2:' || x)), 'min') AS mh2,
             list_aggregate(list_transform(ts, x -> md5('3:' || x)), 'min') AS mh3
      FROM tok
    ), banded AS (
      SELECT 0 AS band_id, md5(mh0 || '|' || mh1) AS band_key, doc_id FROM sig
      UNION ALL
      SELECT 1 AS band_id, md5(mh2 || '|' || mh3) AS band_key, doc_id FROM sig
    )
    SELECT band_id, band_key, count(*) AS bucket_size, min(doc_id) AS min_doc
    FROM banded GROUP BY band_id, band_key
    """,
)
def d4_lsh_band_buckets(spark, sf_dir):
    """MinHash-LSH banding: bucket sizes per (band, key). Near-dup search
    joins within buckets only — the quadratic pair explosion never happens."""
    d = t(spark, sf_dir, "documents")
    buckets = minhash_lsh_buckets(d, "text", k=4, bands=2)
    return buckets.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("bucket_size"), F.min("doc_id").alias("min_doc")
    )


@query(
    "d5_ngram_jaccard_pairs",
    """
    WITH tok AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS ts
      FROM documents
    ), sig AS (
      SELECT doc_id,
             list_aggregate(list_transform(ts, x -> md5('0:' || x)), 'min') AS mh0,
             list_aggregate(list_transform(ts, x -> md5('1:' || x)), 'min') AS mh1,
             list_aggregate(list_transform(ts, x -> md5('2:' || x)), 'min') AS mh2,
             list_aggregate(list_transform(ts, x -> md5('3:' || x)), 'min') AS mh3
      FROM tok
    ), banded AS (
      SELECT 0 AS band_id, md5(mh0 || '|' || mh1) AS band_key, doc_id FROM sig
      UNION ALL
      SELECT 1 AS band_id, md5(mh2 || '|' || mh3) AS band_key, doc_id FROM sig
    ), kept AS (
      SELECT band_id, band_key, doc_id,
             count(*) OVER (PARTITION BY band_id, band_key) AS bsz
      FROM banded
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kept a JOIN kept b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      WHERE a.bsz <= 50 AND b.bsz <= 50
    )
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(ta.ts, tb.ts))
             / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))), 4)
             AS jaccard
    FROM cand c
    JOIN tok ta ON ta.doc_id = c.id_a
    JOIN tok tb ON tb.doc_id = c.id_b
    WHERE round(len(list_intersect(ta.ts, tb.ts))
             / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))), 4)
          >= 0.7
    """,
)
def d5_ngram_jaccard_pairs(spark, sf_dir):
    """Token-set Jaccard near-dup pairs at the STRICT threshold (0.7),
    blocked by LSH band keys instead of a metadata column.

    r8 SCALE_BENCH measured the previous lang-blocked version at 12.3x
    on 10x data: metadata blocks (lang) grow linearly with the corpus,
    so in-block candidate pairs grow quadratically no matter how well
    the quadratic stage itself is balanced. The at-scale plan its own
    docstring promised — d8's MinHash -> LSH band buckets -> per-bucket
    pairing -> exact-Jaccard verify (operators.dedup.lsh_neardup_pairs)
    — bounds candidate work by construction: bucket size is capped
    (max_bucket=50 drops degenerate low-entropy buckets), buckets grow
    in NUMBER with the corpus, not in size, so candidate pairs stay
    ~linear in collisions. d5 vs d8 is the threshold: 0.7 is the
    aggressive "safe to drop" bar, 0.5 d8's review bar."""
    from es_to_clickhouse_spark.operators.dedup import lsh_neardup_pairs

    return lsh_neardup_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        k=4, bands=2, threshold=0.7, max_bucket=50,
    )


@query(
    "d6_embedding_neardup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cos
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 4) >= 0.4
    """,
)
def d6_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs blocked by label (coarse cluster).

    Threshold 0.4 is calibrated to the synthetic corpus (max pairwise
    cosine ~0.51 — no planted exact dups), so the predicate is actually
    exercised at every SF; the 0.9 the operator defaults to (real
    embedding models) was vacuously empty — the green-but-unexercised
    trap. The threshold is just this parameter.

    Scale disposition (measured, two decades, SCALE_BENCH.md): METADATA
    blocking is quadratic by design — label blocks grow linearly with
    the corpus, so in-block pairs grow ~N²/|labels| however well the
    pair stage is balanced (the same verdict that moved d5 off lang
    blocking in r9). d6 exists as the simple metadata-blocked variant;
    the at-scale embedding dedup paths in this repo are d14 (SemDeDup:
    IVF cells whose COUNT scales with the corpus — bounded-cell linear)
    and d8 (MinHash-LSH band buckets). A second confound is the data
    floor: at dim 64, random-pair cosine has std ~1/sqrt(64) = 0.125,
    so the 0.4 threshold sits only ~3 sigma above noise and the output
    itself grows ~quadratically with corpus size on ANY decorrelated
    synthesis (real models: dim >= 768 and threshold ~0.9 = ~25 sigma,
    where output tracks true duplication)."""
    return embedding_neardup_pairs(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label", threshold=0.4
    )


@query(
    "d18_embedding_neardup_cell",
    """
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cv,
             row_number() OVER (ORDER BY vec_id) % 2 AS grp
      FROM embeddings
      WHERE ('0x'||substr(md5('cent'||CAST(vec_id AS VARCHAR)),1,8))::BIGINT
            < (4294967296 * greatest(8, (SELECT count(*) FROM embeddings) // 256))
              // (SELECT count(*) FROM embeddings)
    ), cell AS (
      -- one argmax per rank-parity centroid group (quantizer-split
      -- multi-probe, r14): two rows per vector. Dense argmax mirrors
      -- the DENSE tier ivf_assign_auto selects at every oracle-checked
      -- scale (k/2 = max(8, n/256)/2 <= 6, work << 200k)
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, c.cent_id, c.grp,
               row_number() OVER (
                 PARTITION BY e.vec_id, c.grp
                 ORDER BY round(list_cosine_similarity(
                            CAST(e.embedding AS DOUBLE[]),
                            CAST(c.cv AS DOUBLE[])), 6) DESC, c.cent_id
               ) AS rn
        FROM embeddings e CROSS JOIN cents c)
      WHERE rn = 1
    )
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cos
    FROM embeddings a
    JOIN cell ca ON ca.vec_id = a.vec_id
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    JOIN cell cb ON cb.vec_id = b.vec_id AND cb.cent_id = ca.cent_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 4) >= 0.4
    """,
)
def d18_embedding_neardup_cell(spark, sf_dir):
    """d6's semantics at scale: label-SCOPED embedding near-dup with the
    blocking key extended to (label, IVF cell), probed through TWO
    independent rank-parity half-quantizers
    (:func:`operators.similarity.ivf_assign_probes`, judge r13 #1).
    d6's plain metadata blocking is quadratic by design — label blocks
    grow linearly with the corpus, so in-block pairs grow ~N²/|labels|
    (measured, SCALE_BENCH.md r11: 717 s / 967k tail pairs at 100x).
    Compounding the block key with the corpus-scaled IVF cell (count
    ~n/256) bounds expected block size like d14's pair stage, so
    candidate pairs stay ~linear in corpus size.

    Why MULTI-PROBE: with a single cell per vector, a near-dup pair
    straddling a cell boundary is silently kept — measured at
    dim-768/rank-128 real-embedding geometry (SCALE_BENCH.md realdim
    section): recall of planted cos~0.95 pairs decayed 0.63 -> 0.46 ->
    0.37 across two decades as the corpus-scaled cell count grew. Two
    independent quantizer halves agree on a pair with high probability
    exactly when one of them straddles (their Voronoi boundaries are
    independent): 0.55 -> 0.82 recall at k=398 in the numpy design
    study, re-measured end-to-end in SCALE_BENCH.md. A pair
    found in both halves emits the same (id_a, id_b, cos) row twice —
    distinct() collapses it (bit-identical cosine both times). This is
    the variant a real dedup-within-language/source pipeline runs at
    100 TB; d6 remains the didactic metadata-blocked form."""
    from es_to_clickhouse_spark.operators.similarity import (
        ivf_assign_probes,
        sampled_centroids,
    )

    emb = t(spark, sf_dir, "embeddings")
    # hash-sampled centroids, NOT `vec_id < n/256`: the value-threshold
    # rule assumed dense ids and saturated on any strided/sparse id
    # layout (operators/similarity.sampled_centroids has the measured
    # 23.6x-decade autopsy; judge r11 #5)
    n_emb = emb.count()  # one metadata job: the centroid cut
    cents = sampled_centroids(emb, n=n_emb)
    cell = ivf_assign_probes(emb, cents, n_probes=2).select(
        "vec_id", "cent_id"
    )
    # hash-join hint: the default SMJ SORTS the vector side (6+ GB at
    # 2M x dim-768) just to attach a 16-byte cell id; building the
    # scalar cell map instead costs ~MBs per partition (r14 realdim
    # disk autopsy, operators/dedup.salted_block_pairs)
    base = emb.join(cell.hint("SHUFFLE_HASH"), "vec_id").withColumn(
        "_blk",
        F.concat(F.col("label"), F.lit("|"), F.col("cent_id").cast("string")),
    )
    return embedding_neardup_pairs(
        base, "vec_id", "embedding", "_blk", threshold=0.4
    ).distinct()


@query(
    "d21_crosslabel_leakage",
    """
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
      WHERE ('0x'||substr(md5('cent'||CAST(vec_id AS VARCHAR)),1,8))::BIGINT
            < (4294967296 * greatest(8, (SELECT count(*) FROM embeddings) // 256))
              // (SELECT count(*) FROM embeddings)
    ), cell AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, c.cent_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(
                            CAST(e.embedding AS DOUBLE[]),
                            CAST(c.cv AS DOUBLE[])), 6) DESC, c.cent_id
               ) AS rn
        FROM embeddings e CROSS JOIN cents c)
      WHERE rn = 1
    ), p AS (
      SELECT least(a.label, b.label) AS label_lo,
             greatest(a.label, b.label) AS label_hi,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 4)
               AS cos
      FROM embeddings a
      JOIN cell ca ON ca.vec_id = a.vec_id
      JOIN embeddings b ON a.vec_id < b.vec_id AND a.label != b.label
      JOIN cell cb ON cb.vec_id = b.vec_id AND cb.cent_id = ca.cent_id
    )
    SELECT label_lo, label_hi, CAST(count(*) AS BIGINT) AS n_pairs,
           max(cos) AS max_cos
    FROM p WHERE cos >= 0.4
    GROUP BY label_lo, label_hi
    """,
)
def d21_crosslabel_leakage(spark, sf_dir):
    """Cross-label near-dup leakage audit: the pairs d18's label
    scoping DELIBERATELY ignores — high-cosine pairs sharing an IVF
    cell but carrying different labels. A dedup-within-language
    pipeline needs this number before trusting the scoping: near-dups
    across language/source labels mean either mislabeled documents or
    translated/mirrored content, and at 100 TB each is an upstream bug
    this audit surfaces per label pair (count + worst cosine). Same
    bounded-cell pair shape as d14's in-cell stage (single-probe assign
    is enough for an audit; the blocks are cells of ~256, candidates
    corpus-linear), with the label inequality keeping only the
    cross-label candidates d6/d18 never see."""
    from es_to_clickhouse_spark.operators.dedup import embedding_neardup_pairs
    from es_to_clickhouse_spark.operators.similarity import (
        ivf_assign_auto,
        sampled_centroids,
    )

    emb = t(spark, sf_dir, "embeddings")
    n_emb = emb.count()  # one metadata job: the centroid cut
    cents = sampled_centroids(emb, n=n_emb)
    cell = ivf_assign_auto(emb, cents).select("vec_id", "cent_id")
    base = emb.join(cell.hint("SHUFFLE_HASH"), "vec_id")
    pairs = embedding_neardup_pairs(
        base, "vec_id", "embedding", "cent_id", threshold=0.4
    )
    lab = emb.select("vec_id", "label")
    return (
        pairs.join(
            lab.select(F.col("vec_id").alias("id_a"),
                       F.col("label").alias("_la")), "id_a"
        )
        .join(
            lab.select(F.col("vec_id").alias("id_b"),
                       F.col("label").alias("_lb")), "id_b"
        )
        .where(F.col("_la") != F.col("_lb"))
        .select(
            F.least("_la", "_lb").alias("label_lo"),
            F.greatest("_la", "_lb").alias("label_hi"),
            "cos",
        )
        .groupBy("label_lo", "label_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("cos").alias("max_cos"),
        )
    )


# ------------------------------------------------------------- similarity


@query(
    "sim1_cosine_topk",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.qv AS DOUBLE[])), 4) AS cos
    FROM embeddings e, q
    WHERE e.vec_id != 0
    ORDER BY cos DESC, e.vec_id LIMIT 10
    """,
)
def sim1_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k: broadcast query vector, map-side scoring,
    TakeOrderedAndProject — the exact-ANN baseline with zero shuffles."""
    e = t(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return similarity.brute_force_topk(
        e.where(F.col("vec_id") != 0), qv, "vec_id", "embedding", k=10
    )


@query(
    "sim2_lsh_bucket_probe",
    """
    WITH b AS (
      SELECT vec_id, embedding,
             concat(
               CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings
    ), q AS (SELECT embedding AS qv, bucket AS q_bucket FROM b WHERE vec_id = 0)
    SELECT vec_id, bucket,
           round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                        CAST(qv AS DOUBLE[])), 4) AS cos
    FROM b, q WHERE b.bucket = q.q_bucket
    ORDER BY cos DESC, vec_id LIMIT 5
    """,
)
def sim2_lsh_bucket_probe(spark, sf_dir):
    """ANN probe: search only the query's sign-LSH bucket (partition-pruned
    scan at scale)."""
    e = t(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return similarity.bucketed_topk(e, qv, "vec_id", "embedding", k=5, n_bits=6)


@query(
    "sim3_bucket_histogram",
    """
    SELECT concat(
             CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
             CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
             CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
             CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
             CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
             CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS bucket,
           count(*) AS n
    FROM embeddings GROUP BY 1
    """,
)
def sim3_bucket_histogram(spark, sf_dir):
    """IVF/LSH bucket balance check — the operational query behind choosing
    n_bits (skewed buckets = slow probes)."""
    e = t(spark, sf_dir, "embeddings")
    return e.select(
        similarity.sign_lsh_bucket(F.col("embedding"), 6).alias("bucket")
    ).groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))


# ------------------------------------------------------------------- text


@query(
    "txt1_token_stats",
    """
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
           len(list_distinct(list_filter(string_split(text, ' '), x -> x != '')))
             AS n_uniq_tokens
    FROM documents
    """,
)
def txt1_token_stats(spark, sf_dir):
    """Token counting (whitespace tokenizer)."""
    return text.token_stats(t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "n_uniq_tokens"
    )


@query(
    "txt2_quality_score",
    """
    WITH tok AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x != '') AS ts
      FROM documents
    )
    SELECT doc_id,
           length(text) AS n_chars_m,
           len(ts) AS n_tokens,
           round(length(replace(text, ' ', '')) * 1.0 / len(ts), 4) AS mean_word_len,
           round(len(list_filter(ts,
             x -> x IN ('the', 'a', 'is', 'of', 'and'))) * 1.0 / len(ts), 4)
             AS stopword_ratio,
           round(len(list_distinct(ts)) * 1.0 / len(ts), 4) AS uniq_ratio
    FROM tok
    """,
)
def txt2_quality_score(spark, sf_dir):
    """Pre-training quality heuristics (length / word-length / stopword /
    uniqueness ratios)."""
    return text.quality_score(t(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars_m", "n_tokens", "mean_word_len", "stopword_ratio", "uniq_ratio"
    )


@query(
    "txt3_lang_id",
    """
    WITH tok AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x != '') AS ts
      FROM documents
    ), votes AS (
      SELECT doc_id, lang,
        len(list_filter(ts, x -> x IN ('the','a','is','of','and'))) AS v_en,
        len(list_filter(ts, x -> x IN ('le','la','et','un','est'))) AS v_fr,
        len(list_filter(ts, x -> x IN ('der','die','und','ein','ist'))) AS v_de,
        len(list_filter(ts, x -> x IN ('el','la','es','un','y'))) AS v_es
      FROM tok
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(v_en, v_fr, v_de, v_es) = 0 THEN 'unk'
                WHEN v_en = greatest(v_en, v_fr, v_de, v_es) THEN 'en'
                WHEN v_fr = greatest(v_en, v_fr, v_de, v_es) THEN 'fr'
                WHEN v_de = greatest(v_en, v_fr, v_de, v_es) THEN 'de'
                ELSE 'es' END AS pred_lang
    FROM votes
    """,
)
def txt3_lang_id(spark, sf_dir):
    """Stopword-vote language ID (deterministic tie precedence)."""
    return text.lang_id(t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "pred_lang"
    )


@query(
    "txt4_fingerprint",
    """
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def txt4_fingerprint(spark, sf_dir):
    """Normalized md5 document fingerprint."""
    return text.fingerprint(t(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


@query(
    "txt5_bigram_topk",
    """
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x != '') AS ts
      FROM documents
    ), bigrams AS (
      SELECT unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]))
               AS bigram
      FROM tok
    )
    SELECT bigram, count(*) AS n FROM bigrams
    GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
)
def txt5_bigram_topk(spark, sf_dir):
    """Word-bigram term stats: explode + count + top-k (the n-gram profile
    behind corpus analysis).

    Two measured hot spots, same medicine as txt10: the single-file
    source scans as ONE partition (pin a repartition so the lambda-built
    bigram arrays compute on all cores), and a Generate directly over a
    HOF-lambda projection evaluates far slower than over materialized
    arrays (checkpoint barrier). 3.9 s -> ~0.7 s warm at sf0.1."""
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = text.tokens(F.col("text"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat(
            F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
        ),
    )
    arr = d.select(bigrams.alias("bg")).localCheckpoint(eager=False)
    return (
        arr.select(F.explode("bg").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


# ------------------------------------------------------------- multimodal


@query(
    "mm1_asset_metadata",
    """
    SELECT doc_id AS asset_id, 'text/plain' AS media_type,
           length(text) AS n_bytes, md5(text) AS checksum
    FROM documents
    """,
)
def mm1_asset_metadata(spark, sf_dir):
    """Multimodal asset table: binary payload + typed metadata; this query
    is the metadata-only projection that never deserializes payloads."""
    assets = multimodal.to_assets(t(spark, sf_dir, "documents"), "doc_id", "text")
    return multimodal.meta_projection(assets)


@query(
    "mm2_frame_sample",
    """
    SELECT doc_id AS asset_id,
           CAST(unnest(range(doc_id % 3 + 1)) AS INT) AS frame_idx,
           length(text) AS n_bytes
    FROM documents
    """,
)
def mm2_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing via Arrow-batched mapInPandas (decode body
    stubbed deterministically; batch shape + binary transfer are real)."""
    assets = multimodal.to_assets(t(spark, sf_dir, "documents"), "doc_id", "text")
    return multimodal.sample_frames(assets, frames_mod=3)


@query(
    "d7_simhash",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(list_filter(string_split(text, ' '),
                                              x -> x != ''))) AS tk
      FROM documents
    ), h AS (
      SELECT doc_id, ('0x' || substr(md5(tk), 1, 4))::INT AS hv FROM tok
    ), v AS (
      SELECT doc_id,
             sum(CASE WHEN (hv >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS s0,
             sum(CASE WHEN (hv >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS s1,
             sum(CASE WHEN (hv >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS s2,
             sum(CASE WHEN (hv >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS s3,
             sum(CASE WHEN (hv >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS s4,
             sum(CASE WHEN (hv >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS s5,
             sum(CASE WHEN (hv >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS s6,
             sum(CASE WHEN (hv >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS s7,
             sum(CASE WHEN (hv >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS s8,
             sum(CASE WHEN (hv >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS s9,
             sum(CASE WHEN (hv >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS s10,
             sum(CASE WHEN (hv >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS s11,
             sum(CASE WHEN (hv >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS s12,
             sum(CASE WHEN (hv >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS s13,
             sum(CASE WHEN (hv >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS s14,
             sum(CASE WHEN (hv >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS s15
      FROM h GROUP BY doc_id
    )
    SELECT doc_id,
           (CASE WHEN s0 > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN s1 > 0 THEN 2 ELSE 0 END)
         + (CASE WHEN s2 > 0 THEN 4 ELSE 0 END)
         + (CASE WHEN s3 > 0 THEN 8 ELSE 0 END)
         + (CASE WHEN s4 > 0 THEN 16 ELSE 0 END)
         + (CASE WHEN s5 > 0 THEN 32 ELSE 0 END)
         + (CASE WHEN s6 > 0 THEN 64 ELSE 0 END)
         + (CASE WHEN s7 > 0 THEN 128 ELSE 0 END)
         + (CASE WHEN s8 > 0 THEN 256 ELSE 0 END)
         + (CASE WHEN s9 > 0 THEN 512 ELSE 0 END)
         + (CASE WHEN s10 > 0 THEN 1024 ELSE 0 END)
         + (CASE WHEN s11 > 0 THEN 2048 ELSE 0 END)
         + (CASE WHEN s12 > 0 THEN 4096 ELSE 0 END)
         + (CASE WHEN s13 > 0 THEN 8192 ELSE 0 END)
         + (CASE WHEN s14 > 0 THEN 16384 ELSE 0 END)
         + (CASE WHEN s15 > 0 THEN 32768 ELSE 0 END) AS simhash
    FROM v
    """,
)
def d7_simhash(spark, sf_dir):
    """16-bit SimHash signatures (operators.dedup.simhash16): per-token
    md5-derived 16-bit hashes vote per bit, sign packs the signature.
    Near-dups differ in few bits; at scale the signature becomes the
    shuffle key for hamming-ball blocking. Pure integer Column math —
    no UDFs, fully codegen'd."""
    from es_to_clickhouse_spark.operators.dedup import simhash16

    # pinned repartition: single-file source, interpreted md5 fold
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return d.select("doc_id", simhash16(F.col("text")).alias("simhash"))


@query(
    "sim4_ivf_cells",
    """
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 4
    ), sims AS (
      SELECT e.vec_id, c.cent_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(c.cv AS DOUBLE[])), 6) AS sim
      FROM embeddings e CROSS JOIN cents c
    ), best AS (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cent_id) AS rn
      FROM sims
    )
    SELECT cent_id, count(*) AS n_vectors
    FROM best WHERE rn = 1 GROUP BY cent_id
    """,
)
def sim4_ivf_cells(spark, sf_dir):
    """IVF coarse-quantizer assignment (operators.similarity.ivf_assign):
    nearest-centroid cell per vector, then the cell-balance histogram —
    the build step of an IVF ANN index. Centroids broadcast; one map-side
    pass + per-id window argmax."""
    from es_to_clickhouse_spark.operators.similarity import ivf_assign

    e = t(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    assigned = ivf_assign(e, cents)
    return assigned.groupBy("cent_id").agg(F.count(F.lit(1)).alias("n_vectors"))


@query(
    "mm3_feature_extract",
    """
    SELECT doc_id AS asset_id,
           ('0x' || substr(md5(text), 1, 8))::BIGINT / 4294967296.0 AS f0,
           ('0x' || substr(md5(text), 9, 8))::BIGINT / 4294967296.0 AS f1,
           ('0x' || substr(md5(text), 17, 8))::BIGINT / 4294967296.0 AS f2,
           ('0x' || substr(md5(text), 25, 8))::BIGINT / 4294967296.0 AS f3
    FROM documents
    """,
)
def mm3_feature_extract(spark, sf_dir):
    """Feature extraction over binary assets via Arrow-batched mapInPandas
    (operators.multimodal.extract_features): the decode/model body is a
    deterministic md5-derived fake, the Python↔Arrow↔JVM plumbing is real
    and oracle-checked bit-for-bit."""
    assets = multimodal.to_assets(t(spark, sf_dir, "documents"), "doc_id", "text")
    return multimodal.extract_features(assets)


@query(
    "txt6_length_histogram",
    """
    SELECT CAST(floor(length(text) / 100) AS BIGINT) AS bucket_100,
           count(*) AS n_docs,
           min(length(text)) AS min_len,
           max(length(text)) AS max_len
    FROM documents GROUP BY 1
    """,
)
def txt6_length_histogram(spark, sf_dir):
    """Document-length histogram (100-char buckets) — the length-filter
    profile a pre-training pipeline checks before truncation decisions."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.floor(F.length("text") / 100).alias("bucket_100"), F.length("text").alias("L"))
        .groupBy("bucket_100")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("L").alias("min_len"),
            F.max("L").alias("max_len"),
        )
    )


@query(
    "txt7_bpe_token_count",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpe_tokens,
           len(list_filter(string_split(text, ' '), x -> x != '')) AS n_ws_tokens
    FROM documents
    """,
)
def txt7_bpe_token_count(spark, sf_dir):
    """Token counting, BPE-ish regex vs whitespace (operators.text
    .regex_token_count): the pre-tokenizer pass of a GPT-2-style
    tokenizer as a pure JVM regexp — no Python in the scan."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.regex_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.size(text.tokens(F.col("text"))).alias("n_ws_tokens"),
    )


@query(
    "d8_lsh_verified_pairs",
    """
    WITH tok AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS ts
      FROM documents
    ), sig AS (
      SELECT doc_id,
             list_aggregate(list_transform(ts, x -> md5('0:' || x)), 'min') AS mh0,
             list_aggregate(list_transform(ts, x -> md5('1:' || x)), 'min') AS mh1,
             list_aggregate(list_transform(ts, x -> md5('2:' || x)), 'min') AS mh2,
             list_aggregate(list_transform(ts, x -> md5('3:' || x)), 'min') AS mh3
      FROM tok
    ), banded AS (
      SELECT 0 AS band_id, md5(mh0 || '|' || mh1) AS band_key, doc_id FROM sig
      UNION ALL
      SELECT 1 AS band_id, md5(mh2 || '|' || mh3) AS band_key, doc_id FROM sig
    ), kept AS (
      SELECT band_id, band_key, doc_id,
             count(*) OVER (PARTITION BY band_id, band_key) AS bsz
      FROM banded
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kept a JOIN kept b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      WHERE a.bsz <= 50 AND b.bsz <= 50
    )
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(ta.ts, tb.ts))
             / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))), 4)
             AS jaccard
    FROM cand c
    JOIN tok ta ON ta.doc_id = c.id_a
    JOIN tok tb ON tb.doc_id = c.id_b
    WHERE round(len(list_intersect(ta.ts, tb.ts))
             / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))), 4)
          >= 0.5
    """,
)
def d8_lsh_verified_pairs(spark, sf_dir):
    """End-to-end near-dup pipeline (operators.dedup.lsh_neardup_pairs):
    MinHash → LSH band buckets (max_bucket guard drops degenerate
    buckets) → candidate pairs → exact Jaccard verify. The self-join is
    per-bucket, so pair count stays ~linear in bucket collisions instead
    of quadratic in corpus size."""
    from es_to_clickhouse_spark.operators.dedup import lsh_neardup_pairs

    return lsh_neardup_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        k=4, bands=2, threshold=0.5, max_bucket=50,
    )


@query(
    "d9_dup_clusters",
    """
    WITH RECURSIVE tok AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS ts
      FROM documents
    ), sig AS (
      SELECT doc_id,
             list_aggregate(list_transform(ts, x -> md5('0:' || x)), 'min') AS mh0,
             list_aggregate(list_transform(ts, x -> md5('1:' || x)), 'min') AS mh1,
             list_aggregate(list_transform(ts, x -> md5('2:' || x)), 'min') AS mh2,
             list_aggregate(list_transform(ts, x -> md5('3:' || x)), 'min') AS mh3
      FROM tok
    ), banded AS (
      SELECT 0 AS band_id, md5(mh0 || '|' || mh1) AS band_key, doc_id FROM sig
      UNION ALL
      SELECT 1 AS band_id, md5(mh2 || '|' || mh3) AS band_key, doc_id FROM sig
    ), kept AS (
      SELECT band_id, band_key, doc_id,
             count(*) OVER (PARTITION BY band_id, band_key) AS bsz
      FROM banded
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kept a JOIN kept b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      WHERE a.bsz <= 50 AND b.bsz <= 50
    ), pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN tok ta ON ta.doc_id = c.id_a
      JOIN tok tb ON tb.doc_id = c.id_b
      WHERE round(len(list_intersect(ta.ts, tb.ts))
               / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))), 4)
            >= 0.5
    ), nodes AS (
      SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ), reach(node, lab) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
    """,
)
def d9_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: the LSH verified pairs (d8) fed through
    iterative min-label connected components (operators/graph.py), so
    transitive duplicates (A~B, B~C but A!~C) land in one cluster keyed
    by its minimum doc_id — the step that lets a pipeline keep exactly
    one canonical doc per duplicate group. Oracle = recursive-CTE
    transitive closure over the same pair set."""
    from es_to_clickhouse_spark.operators.dedup import lsh_neardup_pairs
    from es_to_clickhouse_spark.operators.graph import connected_components

    pairs = lsh_neardup_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        k=4, bands=2, threshold=0.5, max_bucket=50,
    )
    return connected_components(
        pairs, "id_a", "id_b", out_node="doc_id", out_label="cluster_id"
    )


@query(
    "sim5_lloyd_step",
    """
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 4
    ), sims AS (
      SELECT e.vec_id, c.cent_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(c.cv AS DOUBLE[])), 6) AS sim
      FROM embeddings e CROSS JOIN cents c
    ), best AS (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cent_id) AS rn
      FROM sims
    ), ex AS (
      SELECT b.cent_id,
             unnest(e.embedding) AS val,
             unnest(range(len(e.embedding))) AS pos
      FROM best b JOIN embeddings e ON b.vec_id = e.vec_id
      WHERE b.rn = 1
    )
    SELECT cent_id, pos, round(avg(CAST(val AS DOUBLE)), 6) AS m
    FROM ex GROUP BY cent_id, pos
    """,
)
def sim5_lloyd_step(spark, sf_dir):
    """One k-means Lloyd iteration over the embedding table (assign to
    nearest of 4 deterministic seed centroids, recompute per-dimension
    means): the training loop of the IVF quantizer behind sim4, each
    step a pure dataframe job (broadcast assign + map-side partial mean)
    so the 'iterative ML' path needs no driver-side vectors beyond k
    centroids."""
    from es_to_clickhouse_spark.operators.similarity import lloyd_step

    e = t(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    return lloyd_step(e, cents)


@query(
    "txt7_tfidf_terms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM tok WHERE term <> '' GROUP BY doc_id, term
      HAVING count(*) >= 2
    ), dfq AS (
      SELECT term, count(*) AS doc_freq FROM tf GROUP BY term
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    )
    SELECT doc_id, term, tf,
           round(tf * ln(CAST(n_docs AS DOUBLE) / doc_freq), 4) AS tfidf
    FROM tf JOIN dfq USING (term) CROSS JOIN n
    """,
)
def txt7_tfidf_terms(spark, sf_dir):
    """TF-IDF weights for repeated terms (tf >= 2): the relevance-scoring
    primitive for corpus search/quality pipelines. The min-tf prune runs
    BEFORE the doc-frequency join, bounding the join at scale; corpus size
    N is a 1-row broadcast."""
    from es_to_clickhouse_spark.operators.text import tfidf_terms

    d = t(spark, sf_dir, "documents")
    out = tfidf_terms(d, min_tf=2)
    return out.select("doc_id", "term", "tf", F.round("tfidf", 4).alias("tfidf"))


@query(
    "g1_pagerank_trade",
    """
    WITH e AS (
      SELECT n1.n_name AS src, n2.n_name AS dst, CAST(count(*) AS DOUBLE) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      GROUP BY n1.n_name, n2.n_name
    ),
    ow AS (SELECT src, sum(w) AS out_w FROM e GROUP BY src),
    nodes AS (SELECT n_name AS node FROM nation),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
           FROM nodes),
    c1 AS (SELECT e.dst AS node, sum(r.rank * e.w / ow.out_w) AS contrib
           FROM e JOIN r0 r ON e.src = r.node JOIN ow ON ow.src = e.src
           GROUP BY e.dst),
    d1 AS (SELECT coalesce(sum(r.rank), CAST(0.0 AS DOUBLE)) AS dang
           FROM r0 r LEFT JOIN ow ON r.node = ow.src WHERE ow.src IS NULL),
    r1 AS (SELECT n.node,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
             + CAST(0.85 AS DOUBLE)
               * (coalesce(c1.contrib, CAST(0.0 AS DOUBLE))
                  + (SELECT dang FROM d1) / (SELECT n FROM nn)) AS rank
           FROM nodes n LEFT JOIN c1 ON n.node = c1.node),
    c2 AS (SELECT e.dst AS node, sum(r.rank * e.w / ow.out_w) AS contrib
           FROM e JOIN r1 r ON e.src = r.node JOIN ow ON ow.src = e.src
           GROUP BY e.dst),
    d2 AS (SELECT coalesce(sum(r.rank), CAST(0.0 AS DOUBLE)) AS dang
           FROM r1 r LEFT JOIN ow ON r.node = ow.src WHERE ow.src IS NULL),
    r2 AS (SELECT n.node,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
             + CAST(0.85 AS DOUBLE)
               * (coalesce(c2.contrib, CAST(0.0 AS DOUBLE))
                  + (SELECT dang FROM d2) / (SELECT n FROM nn)) AS rank
           FROM nodes n LEFT JOIN c2 ON n.node = c2.node),
    c3 AS (SELECT e.dst AS node, sum(r.rank * e.w / ow.out_w) AS contrib
           FROM e JOIN r2 r ON e.src = r.node JOIN ow ON ow.src = e.src
           GROUP BY e.dst),
    d3 AS (SELECT coalesce(sum(r.rank), CAST(0.0 AS DOUBLE)) AS dang
           FROM r2 r LEFT JOIN ow ON r.node = ow.src WHERE ow.src IS NULL),
    r3 AS (SELECT n.node,
             (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
             + CAST(0.85 AS DOUBLE)
               * (coalesce(c3.contrib, CAST(0.0 AS DOUBLE))
                  + (SELECT dang FROM d3) / (SELECT n FROM nn)) AS rank
           FROM nodes n LEFT JOIN c3 ON n.node = c3.node)
    SELECT node, round(rank, 6) AS rank FROM r3
    """,
)
def g1_pagerank_trade(spark, sf_dir):
    """Weighted PageRank over the nation-to-nation trade graph (supplier
    nation -> customer nation, weight = lineitem count), 3 power
    iterations with dangling-mass redistribution (operators/graph.py
    pagerank). The oracle unrolls the identical float recurrence; rank
    sums round to 6 (summation order is the only engine difference)."""
    from es_to_clickhouse_spark.operators.graph import pagerank

    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("src")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("dst")
    )
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    nodes = t(spark, sf_dir, "nation").select(F.col("n_name").alias("node"))
    ranks = pagerank(edges, damping=0.85, iterations=3, nodes=nodes)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


@query(
    "g2_triangle_count",
    """
    WITH e AS (
      SELECT DISTINCT least(o_custkey % 100, o_orderkey % 100) AS a,
             greatest(o_custkey % 100, o_orderkey % 100) AS b
      FROM orders WHERE o_custkey % 100 != o_orderkey % 100
    ), tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ) GROUP BY node
    """,
)
def g2_triangle_count(spark, sf_dir):
    """Per-node triangle counting — the clustering-coefficient primitive.
    Edges are canonicalized a<b so each triangle enumerates exactly once
    as (x<y<z) via two hash equi-joins; per-node counts come from a
    role-union + groupBy. At 100 TB the standard degree-ordering
    optimization applies unchanged (orient edges low-degree → high-degree
    before the join); the edge list here is domain-bounded (100 nodes) so
    joins stay broadcast-size."""
    o = t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 100).alias("u"), (F.col("o_orderkey") % 100).alias("v")
    ).where(F.col("u") != F.col("v"))
    e = o.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z"))
    )
    roles = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return roles.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


@query(
    "f17_array_hof",
    """
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           round(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))), 6) AS max_abs
    FROM embeddings
    """,
)
def f17_array_hof(spark, sf_dir):
    """Higher-order array functions over the embedding column — transform/
    aggregate/filter run inside codegen (no UDF, no explode-shuffle):
    L2 norm via sequential fold (same order both engines), positive-dim
    count, max |x|."""
    e = t(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return e.select(
        "vec_id",
        F.round(F.sqrt(sq), 6).alias("l2_norm"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))),
            6,
        ).alias("max_abs"),
    )


@query(
    "d10_retention_policy",
    """
    WITH RECURSIVE tok AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS ts
      FROM documents
    ), sig AS (
      SELECT doc_id,
             list_aggregate(list_transform(ts, x -> md5('0:' || x)), 'min') AS mh0,
             list_aggregate(list_transform(ts, x -> md5('1:' || x)), 'min') AS mh1,
             list_aggregate(list_transform(ts, x -> md5('2:' || x)), 'min') AS mh2,
             list_aggregate(list_transform(ts, x -> md5('3:' || x)), 'min') AS mh3
      FROM tok
    ), banded AS (
      SELECT 0 AS band_id, md5(mh0 || '|' || mh1) AS band_key, doc_id FROM sig
      UNION ALL
      SELECT 1 AS band_id, md5(mh2 || '|' || mh3) AS band_key, doc_id FROM sig
    ), kept AS (
      SELECT band_id, band_key, doc_id,
             count(*) OVER (PARTITION BY band_id, band_key) AS bsz
      FROM banded
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kept a JOIN kept b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      WHERE a.bsz <= 50 AND b.bsz <= 50
    ), pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN tok ta ON ta.doc_id = c.id_a
      JOIN tok tb ON tb.doc_id = c.id_b
      WHERE round(len(list_intersect(ta.ts, tb.ts))
               / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))), 4)
            >= 0.5
    ), nodes AS (
      SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ), reach(node, lab) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ), clus AS (
      SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
    )
    SELECT cluster_id, kept_doc_id, n_members FROM (
      SELECT c.cluster_id, d.doc_id AS kept_doc_id,
             count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
      FROM clus c JOIN documents d USING (doc_id)
    ) WHERE rn = 1
    """,
)
def d10_retention_policy(spark, sf_dir):
    """Canonical-doc retention: for every near-dup cluster (d9's LSH →
    verify → connected-components pipeline), keep the HIGHEST-QUALITY
    member (longest doc; ties → smallest doc_id) — the final step of a
    training-data dedup pass, where the cluster's other members are
    dropped. One window over the (tiny) cluster-membership frame; the
    quality join is a broadcast (clusters ≪ corpus)."""
    from es_to_clickhouse_spark.operators.dedup import lsh_neardup_pairs
    from es_to_clickhouse_spark.operators.graph import connected_components

    pairs = lsh_neardup_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        k=4, bands=2, threshold=0.5, max_bucket=50,
    )
    clusters = connected_components(
        pairs, "id_a", "id_b", out_node="doc_id", out_label="cluster_id"
    )
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = clusters.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        j.withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("kept_doc_id"), "n_members")
    )


@query(
    "txt9_doc_chunking",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      WHERE doc_id % 10 = 0
    ), chunks AS (
      SELECT doc_id,
             unnest(generate_series(0, len(ts) - 1, 48)) AS start
             , ts
      FROM tok WHERE len(ts) > 0
    )
    SELECT doc_id,
           start // 48 AS chunk_idx,
           len(list_slice(ts, start + 1, start + 64)) AS n_chunk_tokens,
           md5(array_to_string(list_slice(ts, start + 1, start + 64), ' '))
             AS chunk_md5
    FROM chunks
    """,
)
def txt9_doc_chunking(spark, sf_dir):
    """Context-window chunking: split every document into overlapping
    64-token windows with stride 48 (the standard LLM pretraining packing
    prep). Pure Column math — sequence() for the stride starts, explode,
    slice + array_join for the chunk — no UDF; the explode fan-out is
    bounded by tokens/stride per doc. Chunk text is checked by md5 (cells
    stay small; contents bit-checked)."""
    docs = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.split("text", " ").alias("ts"))
        .where(F.size("ts") > 0)
    )
    chunks = docs.select(
        "doc_id",
        "ts",
        F.explode(
            F.sequence(F.lit(0), F.size("ts") - 1, F.lit(48))
        ).alias("start"),
    )
    sl = F.slice(F.col("ts"), F.col("start") + 1, F.lit(64))
    return chunks.select(
        "doc_id",
        (F.col("start") / 48).cast("bigint").alias("chunk_idx"),
        F.size(sl).alias("n_chunk_tokens"),
        F.md5(F.array_join(sl, " ")).alias("chunk_md5"),
    )


@query(
    "txt10_contamination_check",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
      FROM documents
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(ts) - 7),
               i -> md5(array_to_string(list_slice(ts, i, i + 7), ' '))
             )) AS gs
      FROM tok WHERE len(ts) >= 8
    ), flat AS (
      SELECT doc_id, unnest(gs) AS g FROM grams
    ), eval_g AS (SELECT doc_id, g FROM flat WHERE doc_id % 7 = 0),
       train_g AS (SELECT doc_id, g FROM flat WHERE doc_id % 7 != 0)
    SELECT e.doc_id AS eval_doc_id,
           count(DISTINCT t.doc_id) AS n_contaminating_docs,
           count(DISTINCT e.g) AS n_shared_ngrams
    FROM eval_g e JOIN train_g t ON e.g = t.g
    GROUP BY e.doc_id
    """,
)
def txt10_contamination_check(spark, sf_dir):
    """Benchmark-contamination scan: which held-out (eval) documents
    share an 8-gram with any training document — the standard n-gram
    decontamination test (GPT-3 appendix / Dolma-style). Word 8-grams are
    hashed per doc (distinct within doc), then a hash equi-join finds
    overlaps; at 100 TB the join shuffles on the gram hash (uniform by
    construction) and the eval side is tiny → broadcast."""
    # pinned repartition: a single-file source scans as one partition,
    # and the md5 8-gram hashing (the dominant cost, computed once per
    # join side) would otherwise run single-threaded
    docs = (
        t(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.filter(F.split("text", " "), lambda x: x != "").alias("ts"),
        )
    )
    grams = (
        docs.where(F.size("ts") >= 8)
        .select(
            "doc_id",
            # gram identity is a 64-bit xxhash of the token-slice ARRAY:
            # no per-gram string join and the explode/shuffle/join carry
            # longs, not 32-char md5 strings. The output only exposes
            # COUNTS of matching grams, so the hash choice is free as
            # long as it is deterministic and collision-negligible
            # (~6M grams/side -> birthday odds ~1e-6 on 64 bits, and the
            # same every run).
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 7),
                    lambda i: F.xxhash64(F.slice(F.col("ts"), i, F.lit(8))),
                )
            ).alias("gs"),
        )
        # materialization barrier BEFORE the explode: a Generate sitting
        # directly on the HOF-lambda projection drops the whole stage out
        # of efficient evaluation (measured 2.0 s vs 0.4 s for the same
        # work at sf0.1); checkpointing the per-doc gram ARRAYS (compact)
        # also makes both join sides read one materialization instead of
        # relying on filter pushdown to split the hashing pass
        .localCheckpoint(eager=False)
        .select("doc_id", F.explode("gs").alias("g"))
    )
    eval_g = grams.where(F.col("doc_id") % 7 == 0)
    train_g = grams.where(F.col("doc_id") % 7 != 0)
    joined = eval_g.alias("e").join(
        train_g.alias("t"), F.col("e.g") == F.col("t.g")
    )
    return joined.groupBy(F.col("e.doc_id").alias("eval_doc_id")).agg(
        F.countDistinct(F.col("t.doc_id")).alias("n_contaminating_docs"),
        F.countDistinct(F.col("e.g")).alias("n_shared_ngrams"),
    )


@query(
    "txt11_redaction",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[0-9]{3,}')) AS n_long_numbers,
           md5(regexp_replace(text, '[0-9]{3,}', '<NUM>', 'g')) AS redacted_md5,
           length(regexp_replace(text, '[0-9]{3,}', '<NUM>', 'g'))
             AS redacted_len
    FROM documents
    """,
)
def txt11_redaction(spark, sf_dir):
    """PII-style scrubbing: redact long digit runs (ids/phones) with a
    placeholder token and count the redactions — regexp_replace /
    regexp_extract_all stay in codegen (the pattern is RE2-compatible so
    both engines match identically; DuckDB needs the 'g' flag to match
    Spark's replace-all default). Redacted text verified by md5."""
    docs = t(spark, sf_dir, "documents")
    redacted = F.regexp_replace("text", "[0-9]{3,}", "<NUM>")
    return docs.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(text, '[0-9]{3,}')")).alias(
            "n_long_numbers"
        ),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).alias("redacted_len"),
    )


@query(
    "d11_incremental_dedup",
    """
    WITH fp AS (SELECT doc_id, md5(text) AS f FROM documents),
    hist AS (SELECT f FROM fp WHERE doc_id % 3 != 0),
    batch AS (SELECT doc_id, f FROM fp WHERE doc_id % 3 = 0)
    SELECT b.doc_id, b.f AS fingerprint FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.f = b.f)
    """,
)
def d11_incremental_dedup(spark, sf_dir):
    """Incremental dedup: an arriving batch keeps only docs whose
    fingerprint is UNSEEN in the historical corpus — a LEFT ANTI join on
    the md5 key. At 100 TB the history side is a bucketed fingerprint
    table co-partitioned with the batch hash, so the anti-join is the
    same one shuffle every append already pays."""
    fp = t(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("fingerprint")
    )
    hist = fp.where(F.col("doc_id") % 3 != 0).select("fingerprint")
    batch = fp.where(F.col("doc_id") % 3 == 0)
    return batch.join(hist, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


@query(
    "txt13_extraction_arrays",
    """
    SELECT doc_id,
           list_sort(regexp_extract_all(text, '[0-9]{3,}')) AS long_numbers,
           list_sort(list_distinct(regexp_extract_all(lower(text),
             '[a-z]{12,}'))) AS long_words
    FROM documents WHERE doc_id % 4 = 0
    """,
)
def txt13_extraction_arrays(spark, sf_dir):
    """Span extraction to ARRAY cells: all long digit runs and distinct
    long words per document (the PII/entity-extraction shape), returned
    as sorted arrays — regexp_extract_all stays in codegen and the array
    result is value-checked cell-by-cell against the oracle."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    return d.select(
        "doc_id",
        F.sort_array(
            F.expr("regexp_extract_all(text, '[0-9]{3,}')")
        ).alias("long_numbers"),
        F.sort_array(
            F.array_distinct(
                F.expr("regexp_extract_all(lower(text), '[a-z]{12,}')")
            )
        ).alias("long_words"),
    )


@query(
    "txt12_repetition_signal",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
      FROM documents
    )
    SELECT doc_id,
           len(ts) - 2 AS n_3grams,
           len(list_distinct(list_transform(
             generate_series(1, len(ts) - 2),
             i -> array_to_string(list_slice(ts, i, i + 2), ' ')
           ))) AS n_uniq_3grams,
           (len(ts) - 2 - len(list_distinct(list_transform(
             generate_series(1, len(ts) - 2),
             i -> array_to_string(list_slice(ts, i, i + 2), ' ')
           )))) * 50 > (len(ts) - 2) AS is_repetitive
    FROM tok WHERE len(ts) >= 3
    """,
)
def txt12_repetition_signal(spark, sf_dir):
    """Intra-document repetition signal (Gopher-style quality filter):
    the duplicate-3-gram fraction flags boilerplate/looping text. All
    counts stay INTEGER (the >2% test is cross-multiplied, never a
    rounded float) so the oracle is bit-exact; the gram pipeline is
    transform/slice/array_distinct inside codegen — no explode, no
    shuffle, one scan."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("ts")
    ).where(F.size("ts") >= 3)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("ts") - 2),
        lambda i: F.array_join(F.slice(F.col("ts"), i, F.lit(3)), " "),
    )
    n_g = (F.size("ts") - 2).cast("long")
    n_u = F.size(F.array_distinct(grams)).cast("long")
    return docs.select(
        "doc_id",
        n_g.alias("n_3grams"),
        n_u.alias("n_uniq_3grams"),
        ((n_g - n_u) * 50 > n_g).alias("is_repetitive"),
    )


@query(
    "c1_clean_pipeline",
    """
    WITH tok AS (
      SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x != '') AS ts
      FROM documents
    ), m AS (
      SELECT doc_id, lang,
             len(ts) AS n_tok,
             len(list_distinct(ts)) AS n_uniq,
             greatest(len(ts) - 2, 0) AS n_g,
             CASE WHEN len(ts) >= 3 THEN
               len(list_distinct(list_transform(
                 generate_series(1, len(ts) - 2),
                 i -> array_to_string(list_slice(ts, i, i + 2), ' '))))
             ELSE 0 END AS n_ug
      FROM tok
    )
    SELECT doc_id, lang,
           CASE WHEN n_tok < 20 THEN 'too_short'
                WHEN n_uniq * 100 < 35 * n_tok THEN 'low_uniq'
                WHEN (n_g - n_ug) * 50 > n_g THEN 'high_rep'
                ELSE 'kept' END AS verdict
    FROM m
    """,
)
def c1_clean_pipeline(spark, sf_dir):
    """End-to-end C4/Gopher-style cleaning pass as ONE declarative plan:
    length gate → lexical-diversity gate → repetition gate, each doc
    tagged with its first rejection reason (or 'kept'). Single scan, all
    signals computed in codegen from one token array, integer-exact
    threshold tests — the shape of a real 100 TB pretraining filter,
    where every extra pass over the corpus costs hours."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.filter(F.split("text", " "), lambda x: x != "").alias("ts"),
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("ts") - 2),
        lambda i: F.array_join(F.slice(F.col("ts"), i, F.lit(3)), " "),
    )
    n_tok = F.size("ts").cast("long")
    n_uniq = F.size(F.array_distinct("ts")).cast("long")
    n_g = F.greatest(F.size("ts") - 2, F.lit(0)).cast("long")
    n_ug = F.when(
        F.size("ts") >= 3, F.size(F.array_distinct(grams)).cast("long")
    ).otherwise(F.lit(0))
    verdict = (
        F.when(n_tok < 20, "too_short")
        .when(n_uniq * 100 < 35 * n_tok, "low_uniq")
        .when((n_g - n_ug) * 50 > n_g, "high_rep")
        .otherwise("kept")
    )
    return docs.select("doc_id", "lang", verdict.alias("verdict"))


@query(
    "f18_array_agg_sorted",
    """
    SELECT n.n_regionkey AS region_key,
           list_sort(list(n.n_name)) AS nations,
           list_sort(list(DISTINCT n.n_nationkey % 5)) AS key_mods
    FROM nation n GROUP BY n.n_regionkey
    """,
)
def f18_array_agg_sorted(spark, sf_dir):
    """ARRAY-typed result cells: collect_list + sort_array (canonical
    sorted form so the order-insensitive value hash is well-defined for
    the cell CONTENTS too). Exercises the checker's array canon — both
    engines materialize list cells to identical reprs."""
    n = t(spark, sf_dir, "nation")
    return n.groupBy(F.col("n_regionkey").alias("region_key")).agg(
        F.sort_array(F.collect_list("n_name")).alias("nations"),
        F.sort_array(F.collect_set(F.col("n_nationkey") % 5)).alias("key_mods"),
    )


@query(
    "f20_map_entries",
    """
    WITH base AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) // 6 AS slot,
             count(*) AS cnt
      FROM events GROUP BY event_type, CAST(hour(ts) AS BIGINT) // 6
    )
    SELECT event_type,
           list_sort(list({'k': slot, 'v': cnt})) AS entries
    FROM base GROUP BY event_type
    """,
)
def f20_map_entries(spark, sf_dir):
    """MAP-typed intermediate: per event type, a map of 6-hour slot →
    event count built with map_from_entries, then emitted as SORTED
    entry structs (map cell reprs differ across engines — Spark dict vs
    DuckDB key/value-lists — so the canonical wire form of a map is its
    sorted entry list)."""
    ev = t(spark, sf_dir, "events")
    base = ev.groupBy(
        "event_type", (F.hour("ts").cast("bigint") / F.lit(6)).cast("bigint").alias("slot")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    m = base.groupBy("event_type").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("slot", "cnt")))
        ).alias("m")
    )
    return m.select(
        "event_type",
        F.sort_array(
            F.expr("transform(map_entries(m), e -> named_struct('k', e.key, 'v', e.value))")
        ).alias("entries"),
    )


@query(
    "mm5_png_header_decode",
    """
    WITH p AS (
      SELECT doc_id AS asset_id,
             hex(from_hex('89504E470D0A1A0A0000000D49484452' ||
                 lpad(hex(n_chars % 1024 + 1), 8, '0') ||
                 lpad(hex((3 * n_chars) % 768 + 1), 8, '0') ||
                 '0802000000')) AS hx
      FROM documents
    )
    SELECT asset_id,
           CAST('0x' || substr(hx, 33, 8) AS BIGINT) AS width,
           CAST('0x' || substr(hx, 41, 8) AS BIGINT) AS height
    FROM p
    """,
)
def mm5_png_header_decode(spark, sf_dir):
    """Image dimensions decoded FROM BYTES with pure Column math — no
    codec, no UDF (operators/multimodal.png_dims). Payloads are
    deterministic synthetic PNGs (valid signature + IHDR) built from the
    documents table in BOTH engines; Spark slices the binary (substring
    on BinaryType → hex → base-16), DuckDB slices the hex encoding of
    the same blob. A petabyte metadata pass over real images runs
    exactly this plan."""
    from es_to_clickhouse_spark.operators.multimodal import (
        PNG_SIG_IHDR_HEX,
        png_dims,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    whex = F.lpad(F.hex(F.col("n_chars") % 1024 + 1), 8, "0")
    hhex = F.lpad(F.hex((F.col("n_chars") * 3) % 768 + 1), 8, "0")
    payload = F.unhex(
        F.concat(F.lit(PNG_SIG_IHDR_HEX), whex, hhex, F.lit("0802000000"))
    )
    assets = docs.select(F.col("doc_id").alias("asset_id"), payload.alias("payload"))
    w, h = png_dims(F.col("payload"))
    return assets.select("asset_id", w.alias("width"), h.alias("height"))


@query(
    "mm6_jpeg_sof0_decode",
    """
    SELECT doc_id AS asset_id,
           CAST((5 * n_chars) % 800 + 1 AS BIGINT) AS width,
           CAST(n_chars % 600 + 1 AS BIGINT) AS height
    FROM documents
    """,
)
def mm6_jpeg_sof0_decode(spark, sf_dir):
    """JPEG dimensions recovered by the SOF0 SEGMENT WALK
    (operators/multimodal.jpeg_sof0_dims). The synthetic JPEGs are
    deliberately adversarial: an APP1 segment whose payload contains a
    spurious byte-aligned ``FF C0`` AND bytes whose hex text aliases
    ``FFC0`` across a byte boundary, plus a variable-length COM segment
    so the true SOF0 sits at a per-row offset. The oracle is GROUND
    TRUTH from the construction formulas — a substring-locate
    implementation (the pre-round-4 bug) reads the spurious marker and
    mismatches, so green here means the walk is actually right."""
    from es_to_clickhouse_spark.operators.multimodal import jpeg_sof0_dims

    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    hhex = F.lpad(F.hex(F.col("n_chars") % 600 + 1), 4, "0")
    whex = F.lpad(F.hex((F.col("n_chars") * 5) % 800 + 1), 4, "0")
    payload = F.unhex(
        F.concat(
            F.lit("FFD8"),  # SOI
            F.lit("FFE000044A46"),  # APP0, len 4
            # APP1, len 8: payload carries a byte-aligned spurious FFC0
            # and AF FC 05 (hex text 'AFFC05' aliases FFC0 mid-byte)
            F.lit("FFE10008FFC000AFFC05"),
            # COM, variable length: shifts the true SOF0 per row
            F.lit("FFFE"),
            F.lpad(F.hex(F.col("n_chars") % 7 + 2), 4, "0"),
            F.expr("repeat('41', n_chars % 7)"),
            F.lit("FFC0001108"), hhex, whex, F.lit("01"),  # true SOF0
        )
    )
    assets = docs.select(F.col("doc_id").alias("asset_id"), payload.alias("payload"))
    w, h = jpeg_sof0_dims(F.col("payload"))
    return assets.select("asset_id", w.alias("width"), h.alias("height"))


@query(
    "mm4_resize_dims",
    """
    WITH d AS (
      SELECT doc_id AS asset_id,
             length(text) % 624 + 16 AS in_w,
             (7 * length(text)) % 464 + 16 AS in_h
      FROM documents
    )
    SELECT asset_id, in_w, in_h,
           CASE WHEN greatest(in_w, in_h) <= 224 THEN in_w
                ELSE in_w * 224 // greatest(in_w, in_h) END AS out_w,
           CASE WHEN greatest(in_w, in_h) <= 224 THEN in_h
                ELSE in_h * 224 // greatest(in_w, in_h) END AS out_h
    FROM d
    """,
)
def mm4_resize_dims(spark, sf_dir):
    """Aspect-preserving resize over mapInPandas (Arrow-batched; decode
    stubbed with integer-exact fake dimensions, plumbing real) — the
    oracle recomputes the fit-to-box arithmetic from payload length."""
    from es_to_clickhouse_spark.operators import multimodal

    assets = multimodal.to_assets(t(spark, sf_dir, "documents"), "doc_id", "text")
    return multimodal.resize_assets(assets, max_side=224)


@query(
    "mm7_wav_header_decode",
    """
    SELECT doc_id AS asset_id,
           CAST(n_chars % 2 + 1 AS BIGINT) AS channels,
           CAST(CASE n_chars % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                ELSE 44100 END AS BIGINT) AS sample_rate,
           CAST(CASE n_chars % 3 WHEN 0 THEN 8 WHEN 1 THEN 16
                ELSE 24 END AS BIGINT) AS bits
    FROM documents
    """,
)
def mm7_wav_header_decode(spark, sf_dir):
    """WAV/RIFF header decode (channels, sample rate, bit depth) from
    raw bytes — LITTLE-endian, unlike PNG/JPEG, so the byte-wise parse
    order is part of what's under test. Payloads are canonical PCM
    headers synthesized per row (channel/rate/bits varied by n_chars);
    the oracle is ground truth from the construction formulas, so Spark
    must actually invert the wire format (operators/multimodal.py
    wav_header — pure Column math, no codec, no UDF)."""
    from es_to_clickhouse_spark.operators.multimodal import wav_header

    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # pre-encoded little-endian field hex, selected per row
    ch = F.element_at(
        F.array(F.lit("0100"), F.lit("0200")), (F.col("n_chars") % 2 + 1).cast("int")
    )
    rate = F.element_at(
        F.array(F.lit("401F0000"), F.lit("803E0000"), F.lit("44AC0000")),
        (F.col("n_chars") % 3 + 1).cast("int"),
    )
    bits = F.element_at(
        F.array(F.lit("0800"), F.lit("1000"), F.lit("1800")),
        (F.col("n_chars") % 3 + 1).cast("int"),
    )
    payload = F.unhex(
        F.concat(
            F.lit("52494646"), F.lit("24080000"),  # RIFF + size
            F.lit("57415645"), F.lit("666D7420"), F.lit("10000000"),  # WAVE fmt len16
            F.lit("0100"), ch,  # PCM tag, channels
            rate, F.lit("00000000"), F.lit("0000"),  # rate, byte_rate, align
            bits,
        )
    )
    assets = docs.select(F.col("doc_id").alias("asset_id"), payload.alias("payload"))
    c, r, b = wav_header(F.col("payload"))
    return assets.select(
        "asset_id", c.alias("channels"), r.alias("sample_rate"), b.alias("bits")
    )


@query(
    "txt8_edit_distance",
    """
    SELECT doc_id,
           levenshtein(substr(text, 1, 20), substr(text, 11, 20)) AS self_shift_dist
    FROM documents
    """,
)
def txt8_edit_distance(spark, sf_dir):
    """Edit-distance primitive (JVM levenshtein — the fuzzy-match verifier
    for near-dup candidate pairs): distance between a doc's prefix and its
    10-char shift, a deterministic self-pairing that exercises the exact
    dynamic-programming semantics without an O(n^2) pair join."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.levenshtein(
            F.substring("text", 1, 20), F.substring("text", 11, 20)
        ).alias("self_shift_dist"),
    )


@query(
    "p14_profile_columns",
    """
    WITH w AS (
      SELECT count(*) - count(lang) AS lang_nulls,
             count(DISTINCT lang) AS lang_distinct,
             CAST(min(lang) AS VARCHAR) AS lang_min,
             CAST(max(lang) AS VARCHAR) AS lang_max,
             count(*) - count(source) AS source_nulls,
             count(DISTINCT source) AS source_distinct,
             CAST(min(source) AS VARCHAR) AS source_min,
             CAST(max(source) AS VARCHAR) AS source_max,
             count(*) - count(n_chars) AS n_chars_nulls,
             count(DISTINCT n_chars) AS n_chars_distinct,
             CAST(min(n_chars) AS VARCHAR) AS n_chars_min,
             CAST(max(n_chars) AS VARCHAR) AS n_chars_max
      FROM documents
    )
    SELECT 'lang' AS column_name, lang_nulls AS n_nulls,
           lang_distinct AS n_distinct, lang_min AS min_s, lang_max AS max_s
    FROM w
    UNION ALL
    SELECT 'source', source_nulls, source_distinct, source_min, source_max
    FROM w
    UNION ALL
    SELECT 'n_chars', n_chars_nulls, n_chars_distinct, n_chars_min,
           n_chars_max
    FROM w
    """,
)
def p14_profile_columns(spark, sf_dir):
    """One-pass column profiling (operators/profile.py): all columns'
    null/distinct/min/max metrics from a single scan, reshaped to a row
    per column via stack() — the pre-training data-quality audit."""
    from es_to_clickhouse_spark.operators.profile import profile

    return profile(t(spark, sf_dir, "documents"), ["lang", "source", "n_chars"])


@query(
    "dq1_category_drift",
    """
    WITH half AS (
      SELECT lang,
             ('0x'||substr(md5('drift'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT
               < 2147483648 AS in_a
      FROM documents
    ), a AS (
      SELECT lang, count(*) AS na FROM half WHERE in_a GROUP BY lang
    ), b AS (
      SELECT lang, count(*) AS nb FROM half WHERE NOT in_a GROUP BY lang
    ), ap AS (
      SELECT lang, na / sum(na) OVER () AS pa FROM a
    ), bp AS (
      SELECT lang, nb / sum(nb) OVER () AS pb FROM b
    )
    SELECT count(*) AS n_categories,
           round(sum(pa * ln(pa / pb)), 6) AS kl
    FROM ap JOIN bp USING (lang)
    """,
)
def dq1_category_drift(spark, sf_dir):
    """Distribution drift (KL divergence) of the language mix between two
    deterministic halves of the corpus (operators/profile.py
    category_drift) — the batch-over-batch data-quality gate a training
    pipeline runs before accepting new data. Halving is hash-based so the
    check is reproducible on any engine."""
    from es_to_clickhouse_spark.operators.profile import category_drift
    from es_to_clickhouse_spark.operators.sketch import hash_sample

    d = t(spark, sf_dir, "documents")
    a = hash_sample(d, "doc_id", 0.5, salt="drift")
    ids_a = a.select("doc_id")
    b = d.join(ids_a, "doc_id", "left_anti")
    out = category_drift(a, b, "lang")
    return out.select("n_categories", F.round("kl", 6).alias("kl"))


@query(
    "fz1_fuzzy_name_match",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part),
    b AS (SELECT p_name, split_part(p_name, ' ', 2) AS noun FROM names)
    SELECT a.p_name AS name_a, c.p_name AS name_b,
           levenshtein(a.p_name, c.p_name) AS dist
    FROM b a JOIN b c ON a.noun = c.noun AND a.p_name < c.p_name
    WHERE levenshtein(a.p_name, c.p_name) <= 3
    """,
)
def fz1_fuzzy_name_match(spark, sf_dir):
    """Blocked fuzzy join — entity-resolution's bread and butter (match
    'red bolt' ~ 'old bolt', never 'red bolt' x every name): distinct
    names block on their head noun, pairs within a block verify with
    exact JVM levenshtein <= 3. txt8 tests the distance primitive; this
    is the JOIN shape around it. Blocking is what makes fuzzy matching
    scale — the quadratic work is confined within blocks (the LSH-band
    pattern of d5/d8; if a block ever grows pathological, d5's salted
    triangle pairing is the unskew, operators/dedup.py:91). The
    distinct-names pre-aggregate means a 100 TB catalog fuzzy-matches
    over its NAME VOCABULARY, not its row count."""
    names = t(spark, sf_dir, "part").select("p_name").distinct()
    b = names.select(
        "p_name", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun")
    )
    a = b.select(F.col("p_name").alias("name_a"), "noun")
    c = b.select(F.col("p_name").alias("name_b"), "noun")
    return (
        a.join(c, "noun")
        .where(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .where(F.col("dist") <= 3)
    )


@query(
    "iv1_inverted_index",
    """
    WITH ex AS (
      SELECT doc_id,
             unnest(list_distinct(list_filter(string_split(text, ' '),
                                              x -> x != ''))) AS term
      FROM documents
    ), occ AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
      FROM documents
    ), stats AS (
      SELECT term, count(*) AS cf FROM occ GROUP BY term
    )
    SELECT ex.term, count(*) AS df, min(stats.cf) AS cf,
           array_to_string(list_sort(list(ex.doc_id))[1:15], ',') AS postings
    FROM ex JOIN stats ON ex.term = stats.term
    GROUP BY ex.term ORDER BY df DESC, ex.term LIMIT 30
    """,
)
def iv1_inverted_index(spark, sf_dir):
    """Inverted-index construction: per-term document frequency,
    collection frequency, and a bounded sorted posting list (first 15
    doc ids) for the top-30 terms by df.

    The oracle states the plain semantics (global sort of each term's
    postings); the Spark plan is the SCALE-SAFE version: postings are
    selected TWO-LEVEL — min-15 within a hash slice of the doc space,
    then min-15 of the <= 8x15 survivors — so no task ever materializes
    a hot term's (stopword's) full posting list. min-15 of per-slice
    min-15s equals the global min-15 (any global survivor survives its
    slice), and df sums exactly because the slices partition doc ids.
    One shuffle keyed on (term, slice), one tiny one on term, TakeOrdered
    for the top-30.
    """
    from es_to_clickhouse_spark.operators.sketch import hash32

    # pinned repartition (single-file source scans as one task) and a
    # checkpoint barrier between the tokenizer lambda and the Generate
    # (same pathology as txt10/txt5): 1.8 s -> ~1.5 s warm at sf0.1
    # (the residual is the two-level distinct aggregation, not the scan)
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    arr = d.select(
        "doc_id", text.tokens(F.col("text")).alias("_ts")
    ).localCheckpoint(eager=False)
    ex = arr.select("doc_id", F.explode("_ts").alias("term")).withColumn(
        "_sl", hash32(F.col("doc_id"), "iv") % 8
    )
    l1 = ex.groupBy("term", "_sl").agg(
        F.count(F.lit(1)).alias("cf1"),
        F.countDistinct("doc_id").alias("df1"),
        F.slice(F.array_sort(F.collect_set("doc_id")), 1, 15).alias("p1"),
    )
    l2 = l1.groupBy("term").agg(
        F.sum("cf1").alias("cf"),
        F.sum("df1").alias("df"),
        F.array_join(
            F.slice(F.array_sort(F.flatten(F.collect_list("p1"))), 1, 15), ","
        ).alias("postings"),
    )
    return l2.orderBy(F.desc("df"), "term").limit(30).select(
        "term", "df", "cf", "postings"
    )


@query(
    "sim7_pq_codebook_assign",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
    subs AS (SELECT vec_id, s.sub, v[s.sub*16+1 : s.sub*16+16] AS sv
             FROM e, (SELECT unnest(generate_series(0, 3)) AS sub) s),
    csubs AS (SELECT cent_id, s.sub, cv[s.sub*16+1 : s.sub*16+16] AS csv
              FROM cents, (SELECT unnest(generate_series(0, 3)) AS sub) s),
    d AS (SELECT vec_id, subs.sub, cent_id,
                 round(list_sum(list_transform(generate_series(1, 16),
                       i -> (sv[i] - csv[i]) * (sv[i] - csv[i]))), 9) AS dist
          FROM subs JOIN csubs ON subs.sub = csubs.sub),
    best AS (SELECT vec_id, sub, cent_id, dist,
                    row_number() OVER (PARTITION BY vec_id, sub
                                       ORDER BY dist ASC, cent_id) AS rn
             FROM d)
    SELECT sub, cent_id AS code, count(*) AS n_assigned,
           round(min(dist), 6) AS min_dist
    FROM best WHERE rn = 1 GROUP BY sub, cent_id
    """,
)
def sim7_pq_codebook_assign(spark, sf_dir):
    """Product-quantization cell census: every embedding split into 4
    x 16-dim subvectors, each assigned to the nearest of 8 codebook
    entries (drawn deterministically from the first 8 vectors), then
    counted per (subspace, code) — the occupancy histogram you check
    before trusting a PQ index (empty/overfull cells mean a bad
    codebook). Squared-L2 distances use the same sequential fold as
    DuckDB's list_sum, so assignment is bit-identical across engines.
    Scale: codebook broadcast, map-side assignment, argmin over k rows
    per (row, subspace) — the vector table never shuffles."""
    from es_to_clickhouse_spark.operators.similarity import pq_assign

    e = t(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    codes = pq_assign(e, "vec_id", "embedding", cents, m=4, dim=64)
    return codes.groupBy("sub", "code").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.round(F.min("dist"), 6).alias("min_dist"),
    )


@query(
    "sim8_pq_adc_ranking",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
    subs AS (SELECT vec_id, s.sub, v[s.sub*16+1 : s.sub*16+16] AS sv
             FROM e, (SELECT unnest(generate_series(0, 3)) AS sub) s),
    csubs AS (SELECT cent_id, s.sub, cv[s.sub*16+1 : s.sub*16+16] AS csv
              FROM cents, (SELECT unnest(generate_series(0, 3)) AS sub) s),
    d AS (SELECT vec_id, subs.sub, cent_id,
                 round(list_sum(list_transform(generate_series(1, 16),
                       i -> (sv[i] - csv[i]) * (sv[i] - csv[i]))), 9) AS dist
          FROM subs JOIN csubs ON subs.sub = csubs.sub),
    codes AS (SELECT vec_id, sub, cent_id AS code FROM (
                SELECT vec_id, sub, cent_id,
                       row_number() OVER (PARTITION BY vec_id, sub
                                          ORDER BY dist ASC, cent_id) AS rn
                FROM d) WHERE rn = 1),
    lut AS (SELECT c.sub, c.cent_id,
                   round(list_sum(list_transform(generate_series(1, 16),
                         i -> (q.sv[i] - c.csv[i]) * (q.sv[i] - c.csv[i]))), 9)
                     AS qd
            FROM csubs c JOIN (SELECT sub, sv FROM subs WHERE vec_id = 0) q
              ON c.sub = q.sub),
    adc AS (SELECT codes.vec_id,
                   round(list_sum(list(qd ORDER BY codes.sub)), 6) AS adc_dist
            FROM codes JOIN lut
              ON codes.sub = lut.sub AND codes.code = lut.cent_id
            GROUP BY codes.vec_id),
    exact AS (SELECT x.vec_id,
                     round(list_sum(list_transform(generate_series(1, 64),
                           i -> (x.v[i] - q.v[i]) * (x.v[i] - q.v[i]))), 6)
                       AS exact_dist
              FROM e x, (SELECT v FROM e WHERE vec_id = 0) q)
    SELECT adc.vec_id, adc_dist, exact_dist
    FROM adc JOIN exact ON adc.vec_id = exact.vec_id
    WHERE adc.vec_id != 0
    ORDER BY adc_dist ASC, adc.vec_id LIMIT 10
    """,
)
def sim8_pq_adc_ranking(spark, sf_dir):
    """PQ search via asymmetric distance: the query vector is compared to
    each row's CODES (a 4-lookup table sum), never to the row's full
    vector — the memory-bandwidth trick that makes PQ indexes fast. The
    top-10 by ADC carries the exact squared-L2 alongside, so the result
    shows directly how faithful the 8-cell codebook ranking is.

    Determinism: every distance fold is the sequential list_sum shape;
    the per-row ADC sums its 4 subspace lookups in SUB ORDER via a fold
    over a sorted struct array (a grouped SUM of doubles would be
    summation-order-dependent across engines). Scale: codes from
    pq_assign (broadcast codebook, no vector shuffle); the 32-entry
    lookup table is broadcast; exact distances are one map-side pass —
    only the tiny (vec_id, adc) frame shuffles for the final join."""
    from es_to_clickhouse_spark.operators.similarity import pq_assign

    e = t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv")
    )
    codes = pq_assign(e, "vec_id", "embedding", cents, m=4, dim=64).select(
        "vec_id", "sub", "code"
    )

    def sub_slices(col, out):
        return F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda s: F.struct(
                    s.alias("sub"),
                    F.slice(col.cast("array<double>"), s * 16 + 1, 16).alias(out),
                ),
            )
        )

    qsubs = e.where(F.col("vec_id") == 0).select(
        sub_slices(F.col("embedding"), "qv").alias("_q")
    ).select(F.col("_q.sub").alias("sub"), F.col("_q.qv").alias("qv"))
    csubs = cents.select(
        "cent_id", sub_slices(F.col("cv"), "csv").alias("_c")
    ).select("cent_id", F.col("_c.sub").alias("sub"), F.col("_c.csv").alias("csv"))
    sqdist = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = csubs.join(F.broadcast(qsubs), "sub").select(
        "sub", "cent_id", F.round(sqdist(F.col("qv"), F.col("csv")), 9).alias("qd")
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (codes.sub == lut.sub) & (codes.code == lut.cent_id),
        )
        .groupBy("vec_id")
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct(codes.sub.alias("s"), F.col("qd")))
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["qd"],
                ),
                6,
            ).alias("adc_dist")
        )
    )
    qfull = e.where(F.col("vec_id") == 0).select(v.alias("qv"))
    exact = e.crossJoin(F.broadcast(qfull)).select(
        "vec_id", F.round(sqdist(v, F.col("qv")), 6).alias("exact_dist")
    )
    return (
        adc.join(exact, "vec_id")
        .where(F.col("vec_id") != 0)
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "iv2_phrase_query",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
      FROM documents
    ), occ AS (
      SELECT doc_id, i AS pos, ts[i] AS term
      FROM tok, unnest(generate_series(1, len(ts))) AS u(i)
    ), adj AS (
      SELECT a.doc_id, a.pos, a.term AS t1, b.term AS t2
      FROM occ a JOIN occ b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ), best AS (
      SELECT t1, t2 FROM (
        SELECT t1, t2, count(*) AS c FROM adj GROUP BY t1, t2
      ) ORDER BY c DESC, t1, t2 LIMIT 1
    )
    SELECT adj.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           min(adj.pos) AS first_pos
    FROM adj JOIN best ON adj.t1 = best.t1 AND adj.t2 = best.t2
    GROUP BY adj.doc_id
    """,
)
def iv2_phrase_query(spark, sf_dir):
    """Positional-index phrase query (iv1's missing half): find every
    document containing the corpus's most frequent bigram as an ADJACENT
    phrase, with occurrence count and first position — the posting-list
    intersection-with-position-adjacency every search engine runs for
    quoted queries.

    Spark-first shape: the 'positional posting join' collapses to ONE
    lead() over the per-doc token order (the adjacency pairs and the
    phrase probe share the same doc-keyed sort — no self-join of the
    positions table, which the oracle states as the plain semantics);
    the 1-row best-bigram is a broadcast. At scale the same lead-pair
    frame IS the (t1, t2, doc, pos) phrase index, partition-pruned by
    the bigram key."""
    from es_to_clickhouse_spark.operators import text

    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # checkpoint barrier between the tokenizer lambda and the Generate
    # (the txt5/iv1 pathology)
    arr = d.select(
        "doc_id", text.tokens(F.col("text")).alias("_ts")
    ).localCheckpoint(eager=False)
    occ = arr.select("doc_id", F.posexplode("_ts").alias("pos0", "term"))
    w = Window.partitionBy("doc_id").orderBy("pos0")
    s = occ.withColumn("nxt", F.lead("term").over(w)).where(
        F.col("nxt").isNotNull()
    )
    best = (
        s.groupBy(F.col("term").alias("t1"), F.col("nxt").alias("t2"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "t1", "t2")
        .limit(1)
        .select("t1", "t2")
    )
    hits = s.crossJoin(F.broadcast(best)).where(
        (F.col("term") == F.col("t1")) & (F.col("nxt") == F.col("t2"))
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min(F.col("pos0") + 1).alias("first_pos"),
    )


@query(
    "g4_cheapest_route",
    """
    WITH RECURSIVE e AS (
      SELECT n1.n_name AS src, n2.n_name AS dst,
             CAST(floor(1000000000.0 / count(*)) AS BIGINT) AS cost
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      GROUP BY n1.n_name, n2.n_name
    ), paths(node, cost, hops) AS (
      SELECT CAST('GERMANY' AS VARCHAR), CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT e.dst, p.cost + e.cost, p.hops + 1
      FROM paths p JOIN e ON e.src = p.node WHERE p.hops < 4
    )
    SELECT node, min(cost) AS min_cost FROM paths GROUP BY node
    """,
)
def g4_cheapest_route(spark, sf_dir):
    """Bounded single-source shortest path (Bellman-Ford, 4 relaxation
    rounds) over the nation trade graph: edge cost inversely
    proportional to trade volume (floor(1e9 / shipments) — heavy routes
    are cheap), source GERMANY. Round k's frame is exactly 'min cost
    over paths of <= k edges', so 4 distributed relaxations equal the
    oracle's hop-bounded recursive-CTE enumeration — the iterative-join
    pattern (materialized edges, per-round min groupBy, checkpointed
    lineage) shared with connected_components/pagerank, here with a
    WEIGHTED objective. Costs are exact integers; the only float is
    the single floor(1e9/cnt) edge-cost op, identical in both engines."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst")
    )
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("sk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("ck"))
        .groupBy("src", "dst")
        .agg(
            F.floor(1000000000.0 / F.count(F.lit(1))).cast("long").alias("cost")
        )
    ).localCheckpoint(eager=True)  # materialize once; reused every round
    dist = e.sparkSession.createDataFrame(
        [("GERMANY", 0)], "node string, cost long"
    )
    for _ in range(4):
        relax = (
            dist.join(e, dist["node"] == e["src"])
            .select(F.col("dst").alias("node"), (dist["cost"] + e["cost"]).alias("cost"))
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=False)
        )
    return dist.select("node", F.col("cost").alias("min_cost"))


@query(
    "sim9_lsh_recall",
    """
    WITH b AS (
      SELECT vec_id, embedding,
             concat(
               CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, embedding AS qv, bucket AS qb FROM b
      ORDER BY ('0x'||substr(md5('rcl'||CAST(vec_id AS VARCHAR)),1,8))::BIGINT,
               vec_id
      LIMIT 16
    ), pairs AS (
      SELECT q.qid, q.qb, b.bucket, b.vec_id,
             round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                          CAST(q.qv AS DOUBLE[])), 6) AS cos
      FROM b, q WHERE b.vec_id != q.qid
    ), truth AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM pairs
      ) WHERE rn <= 5
    ), cand AS (
      SELECT * FROM pairs WHERE bucket = qb
    ), probe AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM cand
      ) WHERE rn <= 5
    ), nc AS (
      SELECT qid, CAST(count(*) AS BIGINT) AS n_cands FROM cand GROUP BY qid
    ), hits AS (
      SELECT t.qid, CAST(count(*) AS BIGINT) AS n_hits
      FROM truth t JOIN probe p ON t.qid = p.qid AND t.vec_id = p.vec_id
      GROUP BY t.qid
    )
    SELECT q.qid, CAST(coalesce(nc.n_cands, 0) AS BIGINT) AS n_cands,
           CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
           round(CAST(coalesce(hits.n_hits, 0) AS DOUBLE) / 5.0, 2) AS recall
    FROM q LEFT JOIN nc ON q.qid = nc.qid LEFT JOIN hits ON q.qid = hits.qid
    """,
)
def sim9_lsh_recall(spark, sf_dir):
    """ANN recall calibration (the d12/sk7 pattern applied to sim2's
    sign-LSH probe): for every 97th vector as a query, top-5 by exact
    cosine over the WHOLE table vs top-5 within the query's LSH bucket
    only — per-query candidate count and recall@5. This is the number
    that justifies (or vetoes) the probe-only index at scale: recall
    degrades exactly when the bucket misses true neighbors, and the
    query quantifies it per probe, not anecdotally. Queries broadcast
    (tiny); the exact side is one pass over the table per batch of
    queries — the same plan a recall audit would run on a sampled 100 TB
    table."""
    from es_to_clickhouse_spark.operators.similarity import (
        cosine,
        sign_lsh_bucket,
    )

    e = t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id", "embedding", sign_lsh_bucket(F.col("embedding")).alias("bucket")
    )
    from es_to_clickhouse_spark.operators.sketch import hash32

    q = (
        base.withColumn("_hv", hash32(F.col("vec_id"), "rcl"))
        .orderBy("_hv", "vec_id")
        .limit(16)  # fixed probe budget (the sim6 lesson): audit work
        # stays O(16*N) at any corpus size; same salt in sim9/sim10 so
        # the single- vs multi-probe recalls compare on THE SAME probes
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("bucket").alias("qb"),
        )
    )
    pairs = (
        base.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qb",
            "bucket",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    truth = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("qid", "vec_id")
    )
    cand = pairs.where(F.col("bucket") == F.col("qb"))
    probe = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("qid", "vec_id")
    )
    nc = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("n_cands"))
    hits = truth.join(probe, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        q.select("qid")
        .join(nc, "qid", "left")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_cands", F.lit(0)).alias("n_cands"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / 5.0, 2
            ).alias("recall"),
        )
    )


@query(
    "iv3_bm25_topk",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
      FROM documents
    ), dl AS (
      SELECT doc_id, len(ts) AS d_len FROM tok
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             avg(CAST(d_len AS DOUBLE)) AS avgdl
      FROM dl
    ), occ AS (
      SELECT doc_id, unnest(ts) AS term FROM tok
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      FROM occ GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.term, tf.doc_id,
             round(
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.d_len / stats.avgdl)),
               6) AS bm25
      FROM tf
      JOIN df ON tf.term = df.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    )
    SELECT term, doc_id, bm25 FROM (
      SELECT term, doc_id, bm25,
             row_number() OVER (ORDER BY bm25 DESC, term, doc_id) AS rn
      FROM scored
    ) WHERE rn <= 20
    """,
)
def iv3_bm25_topk(spark, sf_dir):
    """BM25 relevance scoring (Robertson/Spärck Jones, k1 = 1.2,
    b = 0.75) for every (term, doc) posting, top-20 — iv1's index plus
    THE ranking function a search engine runs over it (txt7's TF-IDF
    upgraded with document-length normalization and the saturating tf).
    All inputs to the float chain are exact integers (tf, df, doc
    lengths) aggregated exactly; the score is one identical op sequence
    per row on both engines, rounded at 6. Plan: two groupBys (tf, df)
    sharing the token explode, a broadcast 1-row stats frame, and a
    TakeOrdered(20) — no global sort materialization."""
    from es_to_clickhouse_spark.operators import text

    n = spark.sparkContext.defaultParallelism
    d = t(spark, sf_dir, "documents").repartition(n)
    arr = d.select(
        "doc_id", text.tokens(F.col("text")).alias("_ts")
    ).localCheckpoint(eager=False)
    dl = arr.select("doc_id", F.size("_ts").alias("d_len"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.col("d_len").cast("double")).alias("avgdl"),
    )
    occ = arr.select("doc_id", F.explode("_ts").alias("term"))
    tf = occ.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = (
        tf.join(df_, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * F.col("d_len") / F.col("avgdl"))
                ),
                6,
            ).alias("bm25"),
        )
    )
    # orderBy + limit plans as TakeOrderedAndProject (per-partition
    # top-20 + driver merge), never a one-partition global window sort
    return scored.orderBy(F.desc("bm25"), "term", "doc_id").limit(20)


@query(
    "sim10_multiprobe_recall",
    """
    WITH b AS (
      SELECT vec_id, embedding,
             concat(
               CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END,
               CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, embedding AS qv, bucket AS qb FROM b
      ORDER BY ('0x'||substr(md5('rcl'||CAST(vec_id AS VARCHAR)),1,8))::BIGINT,
               vec_id
      LIMIT 16
    ), probes AS (
      SELECT qid, qv, qb AS pb FROM q
      UNION ALL
      SELECT qid, qv,
             substring(qb, 1, u.i - 1)
               || (CASE WHEN substring(qb, u.i, 1) = '1' THEN '0' ELSE '1' END)
               || substring(qb, u.i + 1) AS pb
      FROM q, unnest(generate_series(1, 6)) AS u(i)
    ), pairs AS (
      SELECT q.qid, b.vec_id, b.bucket,
             round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                          CAST(q.qv AS DOUBLE[])), 6) AS cos
      FROM b, q WHERE b.vec_id != q.qid
    ), truth AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM pairs
      ) WHERE rn <= 5
    ), cand AS (
      SELECT DISTINCT p.qid, p.vec_id, p.cos
      FROM (SELECT pairs.*, probes.pb FROM pairs
            JOIN probes ON pairs.qid = probes.qid) p
      WHERE p.bucket = p.pb
    ), probe5 AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM cand
      ) WHERE rn <= 5
    ), nc AS (
      SELECT qid, CAST(count(*) AS BIGINT) AS n_cands FROM cand GROUP BY qid
    ), hits AS (
      SELECT t.qid, CAST(count(*) AS BIGINT) AS n_hits
      FROM truth t JOIN probe5 p ON t.qid = p.qid AND t.vec_id = p.vec_id
      GROUP BY t.qid
    )
    SELECT q.qid, CAST(coalesce(nc.n_cands, 0) AS BIGINT) AS n_cands,
           CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
           round(CAST(coalesce(hits.n_hits, 0) AS DOUBLE) / 5.0, 2) AS recall
    FROM q LEFT JOIN nc ON q.qid = nc.qid LEFT JOIN hits ON q.qid = hits.qid
    """,
)
def sim10_multiprobe_recall(spark, sf_dir):
    """Multi-probe LSH (Lv et al., VLDB'07): probe the query's sign
    bucket PLUS the 6 Hamming-distance-1 buckets (one flipped bit
    each), then measure recall@5 against exact top-5 — side-by-side
    with sim9's single-probe recall this quantifies the classic
    multi-probe tradeoff (≈7× candidates for the recall the next
    neighbor bit-flip was hiding). The probe set per query is 7 bucket
    keys — generated by pure string surgery, broadcast with the query
    batch; the candidate scan is still bucket-pruned, never the full
    table (the exact side here is only the audit's ground truth)."""
    from es_to_clickhouse_spark.operators.similarity import (
        cosine,
        sign_lsh_bucket,
    )

    e = t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id", "embedding", sign_lsh_bucket(F.col("embedding")).alias("bucket")
    )
    from es_to_clickhouse_spark.operators.sketch import hash32

    q = (
        base.withColumn("_hv", hash32(F.col("vec_id"), "rcl"))
        .orderBy("_hv", "vec_id")
        .limit(16)  # fixed probe budget (the sim6 lesson): audit work
        # stays O(16*N) at any corpus size; same salt in sim9/sim10 so
        # the single- vs multi-probe recalls compare on THE SAME probes
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("bucket").alias("qb"),
        )
    )
    flip = q.select(
        "qid",
        F.explode(F.sequence(F.lit(1), F.lit(6))).alias("i"),
        "qb",
    ).select(
        "qid",
        F.concat(
            F.expr("substring(qb, 1, i - 1)"),
            F.when(F.expr("substring(qb, i, 1)") == "1", "0").otherwise("1"),
            F.expr("substring(qb, i + 1)"),
        ).alias("pb"),
    )
    probes = q.select("qid", F.col("qb").alias("pb")).unionByName(flip)
    pairs = (
        base.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "bucket",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    truth = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("qid", "vec_id")
    )
    cand = (
        pairs.join(
            F.broadcast(probes),
            (pairs["qid"] == probes["qid"]) & (pairs["bucket"] == probes["pb"]),
        )
        .select(pairs["qid"], "vec_id", "cos")
        .distinct()
    )
    probe5 = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("qid", "vec_id")
    )
    nc = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("n_cands"))
    hits = truth.join(probe5, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        q.select("qid")
        .join(nc, "qid", "left")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_cands", F.lit(0)).alias("n_cands"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / 5.0, 2
            ).alias("recall"),
        )
    )


@query(
    "txt19_source_vocab_overlap",
    """
    WITH v AS (
      SELECT DISTINCT source,
             unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
      FROM documents
    ), sz AS (
      SELECT source, count(*) AS n FROM v GROUP BY source
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
      FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, CAST(i.shared AS BIGINT) AS shared,
           CAST(sa.n AS BIGINT) AS vocab_a, CAST(sb.n AS BIGINT) AS vocab_b,
           round(CAST(i.shared AS DOUBLE)
                 / (sa.n + sb.n - i.shared), 4) AS vocab_jaccard
    FROM inter i
    JOIN sz sa ON sa.source = i.src_a
    JOIN sz sb ON sb.source = i.src_b
    """,
)
def txt19_source_vocab_overlap(spark, sf_dir):
    """Pairwise vocabulary overlap between sources (the corpus-mixing
    diligence question: are two sources lexically redundant before you
    weight them both in?): per source-pair, shared-type count and
    vocabulary Jaccard. The pair join runs on the (source, word) TYPE
    table — Zipf-small, never the token stream — and words carry the
    join, so the quadratic is over the 5 sources' vocab intersections,
    shuffled once on the word. Exact integer counts; one float ratio."""
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    from es_to_clickhouse_spark.operators import text

    v = (
        d.select("source", F.explode(text.tokens(F.col("text"))).alias("w"))
        .distinct()
    )
    sz = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = v.select(F.col("source").alias("src_a"), "w")
    b = v.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        inter.join(
            F.broadcast(sz.select(F.col("source").alias("src_a"), F.col("n").alias("vocab_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sz.select(F.col("source").alias("src_b"), F.col("n").alias("vocab_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "shared",
            "vocab_a",
            "vocab_b",
            F.round(
                F.col("shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("shared")),
                4,
            ).alias("vocab_jaccard"),
        )
    )


#: d18 oracle fragments: 16 MinHash mins + their low-bit extraction
_D18_SIGS = ",\n".join(
    f"             list_aggregate(list_transform(ts, x -> md5('{j}:' || x)),"
    f" 'min') AS mh{j}" for j in range(16)
)
_D18_BITS = ",\n".join(
    f"             ('0x' || substr(mh{j}, 32, 1))::BIGINT % 2 AS b{j}"
    for j in range(16)
)
_D18_AGREE = " + ".join(
    f"(CASE WHEN a.b{j} = b.b{j} THEN 1 ELSE 0 END)" for j in range(16)
)


@query(
    "d18_bbit_minhash_error",
    f"""
    WITH tok AS (
      SELECT doc_id, lang,
             list_distinct(list_filter(string_split(text, ' '), x -> x != ''))
               AS ts
      FROM documents WHERE doc_id % 4 = 0
    ), sig AS (
      SELECT doc_id, lang, ts,
{_D18_SIGS}
      FROM tok
    ), bits AS (
      SELECT doc_id, lang, ts,
{_D18_BITS}
      FROM sig
    ), pr AS (
      SELECT a.lang,
             greatest(CAST(0 AS BIGINT),
                      ({_D18_AGREE} - 8) * 125000) AS est_ppm,
             CAST(round(1000000.0 * len(list_intersect(a.ts, b.ts))
                  / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))))
               AS BIGINT) AS j_ppm
      FROM bits a JOIN bits b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(abs(est_ppm - j_ppm)) AS BIGINT) AS sum_abs_err_ppm,
           CAST(max(abs(est_ppm - j_ppm)) AS BIGINT) AS max_abs_err_ppm,
           round(CAST(sum(abs(est_ppm - j_ppm)) AS DOUBLE)
                 / count(*) / 1000000, 4) AS mean_abs_err
    FROM pr GROUP BY lang
    """,
)
def d18_bbit_minhash_error(spark, sf_dir):
    """b-bit MinHash calibration (Li & König 2010, b = 1): store ONLY
    the lowest bit of each of 16 MinHash values — 16 bits/doc instead
    of 16 × 128-bit hashes — and estimate Jaccard from the bit-agreement
    rate (P(match) = (1+J)/2, so Ĵ = 2·A/k − 1, clamped). The query
    reports the estimator's mean/max absolute error against exact
    Jaccard per language block: the d12 calibration pattern applied to
    the storage-compressed signature a 100 TB dedup index would
    actually keep. All error arithmetic is exact ppm integers (the
    estimate is the rational (A−8)/8 — no float until the final mean);
    the quadratic verify stage rides salted_block_pairs with hoisted
    bit-vectors and hashed token sets (the d5 lesson)."""
    from es_to_clickhouse_spark.operators.dedup import (
        jaccard,
        minhash_signature,
        salted_block_pairs,
    )
    from es_to_clickhouse_spark.operators.text import tokens

    n = spark.sparkContext.defaultParallelism
    d = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 4 == 0)
        .repartition(n)
    )
    sig = d.select(
        "doc_id",
        "lang",
        F.transform(
            F.array_distinct(tokens(F.col("text"))), lambda s: F.xxhash64(s)
        ).alias("_tok"),
        F.array(
            *[
                (
                    F.conv(F.substring(c, 32, 1), 16, 10).cast("long") % 2
                ).cast("int")
                for c in minhash_signature(F.col("text"), 16)
            ]
        ).alias("_bits"),
    ).withColumn("_block", F.col("lang")).localCheckpoint(eager=False)
    pairs = salted_block_pairs(sig, "doc_id", ["_tok", "_bits", "lang"])
    agree = F.aggregate(
        F.zip_with(
            F.col("_bits_a"),
            F.col("_bits_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est_ppm = F.greatest(
        F.lit(0).cast("long"), ((agree - 8) * 125000).cast("long")
    )
    j_ppm = F.round(1000000 * jaccard(F.col("_tok_a"), F.col("_tok_b"))).cast(
        "long"
    )
    pr = pairs.select(
        F.col("lang_a").alias("lang"),
        F.abs(est_ppm - j_ppm).alias("err_ppm"),
    )
    return pr.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("err_ppm").alias("sum_abs_err_ppm"),
        F.max("err_ppm").alias("max_abs_err_ppm"),
        F.round(
            F.sum("err_ppm").cast("double") / F.count(F.lit(1)) / 1000000, 4
        ).alias("mean_abs_err"),
    )


@query(
    "g5_degree_assortativity",
    """
    WITH w AS (
      SELECT n1.n_name AS src, n2.n_name AS dst, count(*) AS cnt
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE n1.n_name != n2.n_name
      GROUP BY n1.n_name, n2.n_name
    ), med AS (
      SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY cnt) AS m FROM w
    ), e AS (
      SELECT src, dst FROM w, med WHERE cnt > med.m
    ), outd AS (
      SELECT src, CAST(count(*) AS BIGINT) AS od FROM e GROUP BY src
    ), ind AS (
      SELECT dst, CAST(count(*) AS BIGINT) AS id FROM e GROUP BY dst
    ), x AS (
      SELECT outd.od AS dx, ind.id AS dy
      FROM e JOIN outd ON e.src = outd.src JOIN ind ON e.dst = ind.dst
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
             CAST(sum(dx * dy) AS BIGINT) AS sxy,
             CAST(sum(dx * dx) AS BIGINT) AS sxx,
             CAST(sum(dy * dy) AS BIGINT) AS syy
      FROM x
    )
    SELECT n AS n_edges,
           CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                     * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
                THEN round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 6) END AS assortativity
    FROM s
    """,
)
def g5_degree_assortativity(spark, sf_dir):
    """Degree assortativity of the nation trade graph (Newman 2002):
    Pearson correlation between source out-degree and destination
    in-degree across directed edges — do high-degree exporters ship to
    high-degree importers (assortative, r > 0) or to the periphery
    (disassortative, r < 0)? Degrees and all five correlation
    accumulators are EXACT integers (ts6's exact-sum correlation
    discipline); one float expression at the end. Two tiny degree
    aggregates broadcast back onto the edge list — no global window,
    no driver math."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src"))
    n2 = n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst"))
    w = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("sk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("ck"))
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    med = w.agg(F.expr("percentile(cnt, 0.5)").alias("m"))
    # sparsify on the graph's own median edge weight (scale-adaptive):
    # the raw nation graph is near-complete, where degrees are constant
    # and assortativity is undefined
    e = (
        w.crossJoin(F.broadcast(med))
        .where(F.col("cnt") > F.col("m"))
        .select("src", "dst")
    )
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    ind = e.groupBy("dst").agg(F.count(F.lit(1)).alias("id"))
    x = (
        e.join(F.broadcast(outd), "src")
        .join(F.broadcast(ind), "dst")
        .select(F.col("od").alias("dx"), F.col("id").alias("dy"))
    )
    agg = x.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    nn = F.col("n").cast("double")
    var_prod = (
        nn * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * (nn * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    return agg.select(
        F.col("n").alias("n_edges"),
        F.when(
            var_prod > 0,
            F.round(
                (nn * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
                / F.sqrt(var_prod),
                6,
            ),
        ).alias("assortativity"),
    )


@query(
    "txt20_lexical_richness",
    """
    WITH occ AS (
      SELECT source,
             unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
      FROM documents
    ), freq AS (
      SELECT source, w, count(*) AS f FROM occ GROUP BY source, w
    )
    SELECT source,
           CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(CAST(count(*) AS DOUBLE) / sum(f), 4) AS type_token_ratio,
           round(CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS hapax_rate
    FROM freq GROUP BY source
    """,
)
def txt20_lexical_richness(spark, sf_dir):
    """Lexical-richness profile per source: type/token ratio and hapax-
    legomenon rate (share of words occurring exactly once) — the
    vocabulary-diversity audit that separates template spam (low TTR,
    few hapaxes) from organic text, complementing txt15's Zipf slope.
    One (source, word) groupBy carries everything; counts exact, two
    final ratios."""
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    from es_to_clickhouse_spark.operators import text

    occ = d.select("source", F.explode(text.tokens(F.col("text"))).alias("w"))
    freq = occ.groupBy("source", "w").agg(F.count(F.lit(1)).alias("f"))
    return freq.groupBy("source").agg(
        F.sum("f").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("f"), 4).alias(
            "type_token_ratio"
        ),
        F.round(
            F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("hapax_rate"),
    )


@query(
    "txt21_ngram_novelty",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
      FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(ts) - 4),
               i -> md5(array_to_string(list_slice(ts, i, i + 4), ' '))))) AS gh
      FROM tok WHERE len(ts) >= 5
    ), fo AS (
      SELECT gh, min(doc_id) AS first_doc FROM g GROUP BY gh
    ), nov AS (
      SELECT g.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN fo.first_doc = g.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM g JOIN fo USING (gh) GROUP BY g.doc_id
    ), mx AS (SELECT max(doc_id) AS m FROM documents)
    SELECT (10 * nov.doc_id) // (m + 1) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_grams) AS BIGINT) AS grams,
           CAST(sum(n_novel) AS BIGINT) AS novel,
           (1000000 * CAST(sum(n_novel) AS BIGINT))
             // CAST(sum(n_grams) AS BIGINT) AS novelty_ppm
    FROM nov, mx GROUP BY 1
    """,
)
def txt21_ngram_novelty(spark, sf_dir):
    """Corpus novelty curve: per ingestion decile (doc_id order as the
    arrival proxy), the fraction of each document's DISTINCT word
    5-grams never seen in any earlier document — the profile that shows
    when a crawl stops contributing new text and starts re-crawling
    (novelty decays toward the boilerplate floor as the corpus grows).
    "First seen" is exact: min(doc_id) per gram hash — one uniform-key
    groupBy (the d20 gram-hash device, no skew) joined back to the
    per-doc gram counts; NO cumulative/windowed state, so the same two
    shuffles work at any corpus size. Counts are exact integers; the
    ppm ratio is integer division."""
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    w = 5
    tok = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("_ts"),
    ).where(F.size("_ts") >= w)

    def gram(i):
        return F.xxhash64(F.slice(F.col("_ts"), i, F.lit(w)))

    arrs = tok.select(
        "doc_id",
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size("_ts") - (w - 1)), gram)
        ).alias("_gs"),
    ).localCheckpoint(eager=False)  # barrier before the explode; shared
    grams = arrs.select("doc_id", F.explode("_gs").alias("_gh"))
    # r15 (guide §2.3 — shuffle/probe fewer bytes): the old shape joined
    # the GRAM-SIZED frame back to its own first-seen aggregate on _gh
    # and re-aggregated gram rows by doc_id. Neither pass needs gram
    # rows: per-doc gram counts are size(_gs) straight off the shared
    # array frame (zero shuffle), and per-doc NOVEL counts are a
    # doc-keyed count over the first-seen aggregate itself (a gram is
    # novel for exactly its min doc_id). The gram-sized join probe and
    # the gram-sized second exchange are gone; the only join left is
    # doc-sized. Results identical: same per-doc (n_grams, n_novel) —
    # docs whose grams are all re-seen coalesce to 0.
    per_doc = arrs.select("doc_id", F.size("_gs").alias("n_grams"))
    novel = (
        grams.groupBy("_gh")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    nov = (
        per_doc.join(novel.hint("SHUFFLE_HASH"), "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
        )
    )
    mx = d.agg(F.max("doc_id").alias("_m"))
    return (
        nov.crossJoin(F.broadcast(mx))
        .select(
            F.expr("(10 * doc_id) div (_m + 1)").alias("decile"),
            "n_grams",
            "n_novel",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("grams"),
            F.sum("n_novel").alias("novel"),
        )
        .select(
            "decile",
            "n_docs",
            "grams",
            "novel",
            F.expr("(1000000 * novel) div grams").alias("novelty_ppm"),
        )
    )


@query(
    "d19_incremental_neardup",
    """
    WITH tok AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS ts
      FROM documents
    ), sig AS (
      SELECT doc_id,
             list_aggregate(list_transform(ts, x -> md5('0:' || x)), 'min') AS mh0,
             list_aggregate(list_transform(ts, x -> md5('1:' || x)), 'min') AS mh1,
             list_aggregate(list_transform(ts, x -> md5('2:' || x)), 'min') AS mh2,
             list_aggregate(list_transform(ts, x -> md5('3:' || x)), 'min') AS mh3
      FROM tok
    ), banded AS (
      SELECT 0 AS band_id, md5(mh0 || '|' || mh1) AS band_key, doc_id FROM sig
      UNION ALL
      SELECT 1 AS band_id, md5(mh2 || '|' || mh3) AS band_key, doc_id FROM sig
    ), kept AS (
      SELECT band_id, band_key, doc_id,
             count(*) OVER (PARTITION BY band_id, band_key) AS bsz
      FROM banded
    ), cand AS (
      SELECT DISTINCT b.doc_id AS batch_id, h.doc_id AS hist_id
      FROM kept b JOIN kept h
        ON b.band_id = h.band_id AND b.band_key = h.band_key
      WHERE b.doc_id % 3 = 0 AND h.doc_id % 3 != 0
        AND b.bsz <= 50 AND h.bsz <= 50
    ), j AS (
      SELECT c.batch_id,
             round(len(list_intersect(ta.ts, tb.ts))
               / (len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts))),
               4) AS jac
      FROM cand c
      JOIN tok ta ON ta.doc_id = c.batch_id
      JOIN tok tb ON tb.doc_id = c.hist_id
    )
    SELECT batch_id AS doc_id,
           count(*) AS n_hist_matches,
           max(jac) AS best_jaccard
    FROM j WHERE jac >= 0.5 GROUP BY batch_id
    """,
)
def d19_incremental_neardup(spark, sf_dir):
    """Incremental NEAR-dup dedup: the arriving batch (doc_id % 3 = 0 —
    d11's split device) screened against the historical corpus through
    the persisted LSH band-bucket store instead of exact fingerprints.
    One bucket join of batch band keys against the store, exact-Jaccard
    verify (>= 0.5) on the collisions only, then a per-batch-doc rollup
    (match count + best jaccard); batch docs absent from the output are
    the novel set the ingest keeps. At 100 TB the store is insert-only
    and bucketed by band key, so each append pays candidate-bounded
    work — history text is never rescanned and history never re-pairs
    with itself (operators/dedup.py incremental_neardup)."""
    from es_to_clickhouse_spark.operators.dedup import incremental_neardup

    d = t(spark, sf_dir, "documents")
    return incremental_neardup(
        d.where(F.col("doc_id") % 3 != 0),
        d.where(F.col("doc_id") % 3 == 0),
        "doc_id",
        "text",
        k=4,
        bands=2,
        threshold=0.5,
        max_bucket=50,
    )


@query(
    "d20_substring_dedup",
    """
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ts
      FROM documents
    ), pg0 AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(ts) - 7),
               i -> struct_pack(
                 pos := CAST(i - 1 AS BIGINT),
                 g := md5(array_to_string(list_slice(ts, i, i + 7), ' '))
               ))) AS u
      FROM tok WHERE len(ts) >= 8
    ), pg AS (
      SELECT doc_id, u.pos AS pos, u.g AS g FROM pg0
    ), dup AS (
      SELECT g FROM (SELECT DISTINCT g, doc_id FROM pg)
      GROUP BY g HAVING count(*) >= 2
    ), dp AS (
      SELECT doc_id, pos FROM pg WHERE g IN (SELECT g FROM dup)
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (
                    PARTITION BY doc_id ORDER BY pos) <= 7
                  THEN 0 ELSE 1 END AS newisl
      FROM dp
    ), grp AS (
      SELECT doc_id, pos,
             sum(newisl) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM isl
    ), spans AS (
      SELECT doc_id, isl, min(pos) AS s, max(pos) AS e,
             count(*) AS ng
      FROM grp GROUP BY doc_id, isl
    )
    SELECT doc_id,
           CAST(sum(ng) AS BIGINT) AS n_dup_grams,
           count(*) AS n_spans,
           max(e - s + 8) AS max_span_tokens,
           CAST(sum(e - s + 8) AS BIGINT) AS repeated_tokens
    FROM spans GROUP BY doc_id
    """,
)
def d20_substring_dedup(spark, sf_dir):
    """Exact repeated-substring dedup profile (word 8-grams): per doc,
    the maximal token spans whose every 8-gram also occurs in >= 2
    distinct documents — the substring-granular dedup signal (Lee et
    al. 2022 "Deduplicating Training Data Makes LMs Better" re-expressed
    as shuffles on uniform gram-hash keys instead of a suffix array;
    d5/d8 are doc-level, txt10 is train-vs-eval — this is the intra-
    corpus span-level stage between them). Gram identity is xxhash64 on
    Spark / md5 on DuckDB — the output only exposes positions and
    counts, so any injective-enough hash agrees (txt10's device).
    operators/dedup.substring_dedup_profile."""
    from es_to_clickhouse_spark.operators.dedup import (
        substring_dedup_profile,
    )

    return substring_dedup_profile(
        t(spark, sf_dir, "documents"), "doc_id", "text", w=8
    )
