"""LLM-training-data-pipeline query surface (oracle-checked).

Dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search
(brute-force + LSH-bucketed + Pandas-UDF variants), and text analysis
(tokens, language-ID, quality, fingerprints) — each as a registry entry
whose DuckDB oracle is built from the SAME constants (seeds, planes, band
layout) as the Spark implementation, so both engines compute the identical
integer-exact result.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.operators import clustering as C
from retail_aws_etl_pipeline_spark.operators import dedup as D
from retail_aws_etl_pipeline_spark.operators import similarity as S
from retail_aws_etl_pipeline_spark.operators import textops as TX
from retail_aws_etl_pipeline_spark.plans.queries import register, register_extra
from retail_aws_etl_pipeline_spark.session import load_tables

# ---------------------------------------------------------------------------
# Shared oracle fragments (DuckDB), parameterized by the operator constants
# ---------------------------------------------------------------------------

#: word 3-gram distinct shingles per doc (matches operators.dedup.shingles).
#: The position series is CORRELATED (len(toks)-bounded), never a fixed cap:
#: a constant generate_series(1, 2048) silently dropped every gram past
#: token 2048 of a long document — an oracle-side truncation the curated
#: testdata never triggered (found by the adversarial corpus's
#: 2,500-distinct-token doc at r13).
GRAMS_CTE = f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
grams AS (
    SELECT DISTINCT doc_id,
           array_to_string(toks[i.i:i.i + {D.SHINGLE_N - 1}], ' ') AS gram
    FROM toks,
         UNNEST(generate_series(1, len(toks) - {D.SHINGLE_N - 1})) AS i(i)
)
"""

SIGS_CTE = f"""
sigs AS (
    SELECT doc_id, s.s AS s,
           MIN(md5(CAST(s.s AS VARCHAR) || '|' || gram)) AS mh
    FROM grams, (SELECT UNNEST(generate_series(0, {D.NUM_HASHES - 1})) AS s) s
    GROUP BY doc_id, s.s
),
bands AS (
    SELECT doc_id, s // {D.ROWS_PER_BAND} AS band,
           {" || ".join(f"MIN(CASE WHEN s % {D.ROWS_PER_BAND} = {r} THEN mh END)" for r in range(D.ROWS_PER_BAND))} AS band_key
    FROM sigs GROUP BY doc_id, s // {D.ROWS_PER_BAND}
)
"""


def _quant_cte(probe_filter: str = "") -> str:
    return f"""
q AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(floor(x * {S.QUANT_SCALE}) AS BIGINT)) AS qvec
    FROM embeddings {probe_filter}
),
n AS (
    SELECT vec_id, qvec,
           CAST(list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * qvec[i])) AS BIGINT) AS qnorm
    FROM q
)
"""


ANN_PROBE_IDS = [0, 1, 2, 3, 4]
ANN_K = 10


def _planes_values(n_planes: int | None = None) -> str:
    planes = S.PLANES if n_planes is None else S.PLANES[:n_planes]
    rows = ", ".join(
        f"({p}, [{', '.join(str(w) for w in weights)}])" for p, weights in enumerate(planes)
    )
    return f"(VALUES {rows}) planes(p, w)"


# ---------------------------------------------------------------------------
# Dedup queries
# ---------------------------------------------------------------------------


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH {GRAMS_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT cm.id_a, cm.id_b, sa.n AS n_a, sb.n AS n_b, cm.common
    FROM common cm
    JOIN sizes sa ON sa.doc_id = cm.id_a
    JOIN sizes sb ON sb.doc_id = cm.id_b
    WHERE cm.common * 5 >= (sa.n + sb.n - cm.common)
    ORDER BY cm.id_a, cm.id_b
    """,
    description="Exact n-gram Jaccard pairs ≥ 0.2 via inverted-index join; "
    "integer cross-multiplied threshold (no fp)",
    tags=("dedup",),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    grams = D.shingles(t["documents"]).persist()
    counts = D.jaccard_counts(grams)
    return counts.filter(
        F.col("common") * 5 >= (F.col("n_a") + F.col("n_b") - F.col("common"))
    ).orderBy("id_a", "id_b")


def _sim_sql_fragments() -> tuple[str, str]:
    """(bit-vote SUM list, simhash CASE expression) — the DuckDB ±1 form
    of the simhash vote, shared by every oracle that needs the value."""
    nib = lambda p: f"(strpos('0123456789abcdef', substr(md5(gram), {p + 1}, 1)) - 1)"  # noqa: E731
    sums = ", ".join(
        f"SUM((({nib(p)} >> {b}) & 1) * 2 - 1) AS s_{p * 4 + b}"
        for p in range(D.SIMHASH_BITS // 4)
        for b in range(4)
    )
    sim = " + ".join(
        f"(CASE WHEN s_{i} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END)"
        for i in range(D.SIMHASH_BITS)
    )
    return sums, sim


def _simhash_oracle() -> str:
    sums, sim = _sim_sql_fragments()
    return f"""
    WITH {GRAMS_CTE},
    bitsums AS (SELECT doc_id, {sums} FROM grams GROUP BY doc_id),
    sim AS (SELECT doc_id, {sim} AS simhash FROM bitsums),
    banded AS (
        SELECT doc_id, simhash, b.b AS band,
               (simhash >> (15 * b.b)) & 32767 AS bits
        FROM sim, (SELECT UNNEST(generate_series(0, 3)) AS b) b
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY id_a, id_b
    """


@register(
    "simhash_near_pairs",
    _simhash_oracle(),
    description="SimHash near-dup: 60-bit majority fingerprint, banded "
    "15-bit equi-join (pigeonhole-complete for hamming ≤ 3)",
    tags=("dedup", "simhash"),
)
def simhash_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    # Persist the per-doc fingerprint frame: the banded self-join consumes
    # it twice, and recomputing means running the shingle explosion + the
    # 16-column majority-vote agg twice. (Persisting the GRAM frame is the
    # wrong move — it breaks whole-stage fusion of shingle generation into
    # the aggregation — but post-agg this is one tiny row per doc.)
    sim = D.simhash64(D.shingles(t["documents"])).persist()
    return D.simhash_near_pairs(sim, max_hamming=3).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Similarity search queries
# ---------------------------------------------------------------------------


#: Oracle for :func:`ann_topk_lsh_ball`: the nested-loop form (bucket
#: Hamming distance <= 1 as the join predicate). The Hamming-ball
#: equi-join selects the same candidates, so results must match exactly.
ANN_TOPK_LSH_ORACLE = f"""
    WITH {_quant_cte()},
    buckets AS (
        SELECT n.vec_id, n.qvec, n.qnorm,
               CAST(SUM(CASE WHEN CAST(list_sum(list_transform(range(1, len(n.qvec) + 1),
                        i -> n.qvec[i] * w[i])) AS BIGINT) >= 0
                        THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
        FROM n, {_planes_values()}
        GROUP BY n.vec_id, n.qvec, n.qnorm
    ),
    pairs AS (
        SELECT p.vec_id AS probe_id, c.vec_id,
               CAST(list_sum(list_transform(range(1, len(p.qvec) + 1), i -> p.qvec[i] * c.qvec[i])) AS BIGINT) AS dot_q,
               p.qnorm AS pn, c.qnorm AS cn
        FROM buckets p
        JOIN buckets c ON bit_count(xor(p.bucket, c.bucket)) <= 1 AND c.vec_id != p.vec_id
        WHERE p.vec_id IN ({", ".join(map(str, ANN_PROBE_IDS))})
    ),
    ranked AS (
        SELECT probe_id, vec_id, dot_q,
               dot_q / sqrt(CAST(pn * cn AS DOUBLE)) AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY probe_id
                   ORDER BY dot_q / sqrt(CAST(pn * cn AS DOUBLE)) DESC, vec_id ASC) AS rank
        FROM pairs
    )
    SELECT probe_id, vec_id, dot_q, cosine, rank
    FROM ranked WHERE rank <= {ANN_K}
    ORDER BY probe_id, rank
    """


@register_extra(
    "ann_topk_lsh_ball",
    ANN_TOPK_LSH_ORACLE,
    description="Multi-probe LSH ANN via probe-side Hamming-ball "
    "expansion + equi-join on bucket — the many-probe scale path (the "
    "bit_count(xor) nested-loop in ann_topk_lsh evaluates every "
    "probe x row combination; this shape hash-joins and produces "
    "identical results)",
    tags=("similarity", "lsh"),
)
def ann_topk_lsh_ball(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    return S.lsh_bucketed_topk_ball(t["embeddings"], ANN_PROBE_IDS, ANN_K).orderBy(
        "probe_id", "rank"
    )


@register_extra(
    "near_dup_pairs_lsh",
    f"""
    WITH {_quant_cte()},
    buckets AS (
        SELECT n.vec_id, n.qvec, n.qnorm,
               CAST(SUM(CASE WHEN CAST(list_sum(list_transform(range(1, len(n.qvec) + 1),
                        i -> n.qvec[i] * w[i])) AS BIGINT) >= 0
                        THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
        FROM n, {_planes_values()}
        GROUP BY n.vec_id, n.qvec, n.qnorm
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(list_sum(list_transform(range(1, len(a.qvec) + 1), i -> a.qvec[i] * b.qvec[i])) AS BIGINT) AS dot_q,
               a.qnorm AS na, b.qnorm AS nb
        FROM buckets a JOIN buckets b
          ON a.vec_id < b.vec_id AND bit_count(xor(a.bucket, b.bucket)) <= 1
    )
    SELECT id_a, id_b, dot_q / sqrt(CAST(na * nb AS DOUBLE)) AS cosine
    FROM pairs
    WHERE dot_q > 0 AND CAST(dot_q AS DOUBLE) * CAST(dot_q AS DOUBLE) >= 0.1225 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
    ORDER BY id_a, id_b
    """,
    description="LSH-bucketed embedding near-dup (bucket Hamming ≤ 1 "
    "candidates, per-bucket cogrouped GEMM) — the sub-quadratic 100 TB "
    "path; candidate semantics exactly oracle-checked",
    tags=("dedup", "similarity", "lsh"),
)
def near_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    return S.near_dup_pairs_lsh_gemm(t["embeddings"], min_cosine=0.35).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Text analysis queries
# ---------------------------------------------------------------------------


def _langid_scored_cte() -> str:
    """The ``scored`` CTE body shared by the lang-ID oracle and the
    staged confusion-census oracle: per-language marker scores + CJK
    char count, mirroring :func:`textops.with_lang_scores` exactly —
    ONE generator so the two oracles cannot drift."""
    score = {
        lang: f"len(list_filter(string_split(text, ' '), t -> t IN ({', '.join(repr(m) for m in ms)})))"
        for lang, ms in TX.LANG_MARKERS.items()
    }
    return f"""
        SELECT doc_id, lang,
               {score['en']} AS score_en, {score['de']} AS score_de,
               {score['fr']} AS score_fr, {score['es']} AS score_es,
               length(regexp_replace(text, '[^{TX.CJK_RANGE}]', '', 'g')) AS cjk_chars
        FROM documents
    """


#: The fixed-precedence prediction CASE over a ``scored`` row — the other
#: shared half of the lang-ID oracle family.
_LANGID_PRED_SQL = """CASE WHEN cjk_chars > 0 THEN 'zh'
                WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'und'
                WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
                WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
                WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
                ELSE 'es' END"""


def _lang_oracle() -> str:
    return f"""
    WITH scored AS ({_langid_scored_cte()})
    SELECT doc_id, lang, score_en, score_de, score_fr, score_es, cjk_chars,
           {_LANGID_PRED_SQL} AS lang_pred
    FROM scored
    ORDER BY doc_id
    """


@register(
    "doc_lang_id",
    _lang_oracle(),
    description="Language-ID heuristic: marker-token scores + CJK char "
    "detection, fixed precedence",
    tags=("text",),
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        TX.with_lang_scores(t["documents"])
        .select(
            "doc_id", "lang", "score_en", "score_de", "score_fr", "score_es", "cjk_chars", "lang_pred"
        )
        .orderBy("doc_id")
    )


@register(
    "doc_quality",
    f"""
    WITH feats AS (
        SELECT doc_id,
               length(text) AS n_chars_m,
               len(string_split(text, ' ')) AS n_tokens,
               length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ({", ".join(repr(m) for m in TX.EN_STOPWORDS)}))) AS n_stopwords
        FROM documents
    )
    SELECT doc_id, n_chars_m, n_tokens, n_punct, n_stopwords,
           CAST(n_chars_m - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_token_len,
           CASE WHEN n_tokens < 5 THEN 0.0
                ELSE (1.0 - CAST(n_punct AS DOUBLE) / n_chars_m) * 0.5
                     + least(CAST(n_stopwords AS DOUBLE) / n_tokens * 4.0, 1.0) * 0.3
                     + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2
           END AS quality_score
    FROM feats
    ORDER BY doc_id
    """,
    description="Quality scoring: length/punctuation/stopword features + "
    "fixed-order composite (bit-reproducible)",
    tags=("text",),
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        TX.quality_features(t["documents"])
        .select(
            "doc_id",
            "n_chars_m",
            "n_tokens",
            "n_punct",
            "n_stopwords",
            "mean_token_len",
            "quality_score",
        )
        .orderBy("doc_id")
    )


@register_extra(
    "embedding_norm_stats",
    f"""
    WITH {_quant_cte()}
    SELECT e.label,
           COUNT(*) AS n_vecs,
           CAST(SUM(n.qnorm) AS BIGINT) AS sum_qnorm,
           CAST(MIN(n.qnorm) AS BIGINT) AS min_qnorm,
           CAST(MAX(n.qnorm) AS BIGINT) AS max_qnorm,
           CAST(SUM(CAST(list_sum(list_transform(n.qvec, x -> CASE WHEN x < 0 THEN 1 ELSE 0 END)) AS BIGINT)) AS BIGINT) AS neg_components
    FROM n JOIN embeddings e ON e.vec_id = n.vec_id
    GROUP BY e.label
    ORDER BY e.label
    """,
    description="Array higher-order-function surface over embeddings: "
    "per-label exact-integer norm statistics (transform/aggregate vs "
    "DuckDB list_transform/list_sum) — the vector-column profiling query a "
    "training-data pipeline runs before choosing ANN parameters",
    tags=("similarity", "agg", "array"),
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    base = S.with_quantized(t["embeddings"])
    negs = F.expr(
        "aggregate(transform(qvec, x -> CASE WHEN x < 0 THEN 1L ELSE 0L END), 0L, (a, v) -> a + v)"
    )
    return (
        base.withColumn("negs", negs)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("qnorm").alias("sum_qnorm"),
            F.min("qnorm").alias("min_qnorm"),
            F.max("qnorm").alias("max_qnorm"),
            F.sum("negs").alias("neg_components"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing query (binary payload → Arrow-batched numpy kernel)
# ---------------------------------------------------------------------------


@register_extra(
    "png_decode_stats",
    """
    WITH ids AS (SELECT doc_id FROM documents),
    pi AS (SELECT UNNEST(generate_series(0, 119)) AS i)
    SELECT doc_id AS media_id, 8 AS width, 5 AS height, 120 AS n_units,
           CAST(SUM((doc_id * 17 + i * 5) % 256) AS BIGINT) AS byte_sum,
           CAST(SUM(CASE WHEN i % 3 = 0 THEN (doc_id * 17 + i * 5) % 256 END) AS BIGINT) AS c0_sum
    FROM ids, pi GROUP BY doc_id ORDER BY media_id
    """,
    description="REAL PNG decode, no PIL: deterministic RGB payloads "
    "encoded with a per-row filter cycle (None/Sub/Up/Average/Paeth), "
    "zlib-inflated and numpy-unfiltered back in mapInPandas; the oracle "
    "recomputes the decoded features from the pixel formula without "
    "seeing the payloads",
    tags=("multimodal", "pandas_udf", "png"),
)
def png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_aws_etl_pipeline_spark.operators import multimodal as MM
    from retail_aws_etl_pipeline_spark.session import spread_for_compute

    # zlib deflate (synth) + inflate/unfilter (decode) are the two
    # heaviest Python kernels in the suite — spread the id frame so both
    # mapInPandas stages use the machine (no-op at scale); the header
    # PROBE queries deliberately stay unspread: their kernels are
    # O(header bytes) and don't amortize an exchange.
    from retail_aws_etl_pipeline_spark.session import PY_KERNEL_MAX_PARTS

    ids = spread_for_compute(
        load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id"),
        max_parts=PY_KERNEL_MAX_PARTS,
        keys=["doc_id"],
    )
    return MM.decode_png_stats(MM.synth_png_media(ids, "doc_id")).orderBy("media_id")


@register_extra(
    "audio_meta_probe",
    """
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'wav' WHEN 1 THEN 'flac' ELSE 'mp3' END AS format,
           CAST(CASE WHEN doc_id % 3 = 2 THEN
                    CASE (doc_id // 3) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
                ELSE 8000 + (doc_id % 100) * 80 END AS INT) AS sample_rate,
           CAST(1 + doc_id % 2 AS INT) AS n_channels
    FROM documents ORDER BY media_id
    """,
    description="Lib-free audio METADATA probe: (format, sample_rate, "
    "channels) from WAV fmt-chunk / FLAC STREAMINFO / MP3 frame-header "
    "bytes alone (ID3v2 tags skipped) — the audio twin of "
    "media_dims_probe; the oracle recomputes stream parameters from the id "
    "formula without seeing payloads",
    tags=("multimodal", "pandas_udf", "metadata"),
)
def audio_meta_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_aws_etl_pipeline_spark.operators import multimodal as MM

    ids = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id")
    return MM.probe_audio(MM.synth_audio_meta_media(ids, "doc_id")).orderBy("media_id")


@register_extra(
    "video_meta_probe",
    """
    SELECT doc_id AS media_id,
           'mp4' AS format,
           CAST((600 + (doc_id * 7) % 36000) * 1000 // 600 AS BIGINT) AS duration_ms,
           CAST(320 + doc_id % 1280 AS INT) AS width,
           CAST(180 + doc_id % 720 AS INT) AS height
    FROM documents ORDER BY media_id
    """,
    description="Lib-free video CONTAINER probe: (duration, track dims) "
    "from an MP4/ISO-BMFF box walk (ftyp -> moov/mvhd timescale+duration, "
    "trak/tkhd 16.16 dims) — no codec; completes the image/audio/video "
    "metadata-probe family. Oracle recomputes from the id formulas without "
    "seeing payloads",
    tags=("multimodal", "pandas_udf", "metadata"),
)
def video_meta_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_aws_etl_pipeline_spark.operators import multimodal as MM

    ids = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id")
    return MM.probe_video(MM.synth_video_meta_media(ids, "doc_id")).orderBy("media_id")


def _mixture_oracle() -> str:
    from retail_aws_etl_pipeline_spark.operators.sampling import MIXTURE_WEIGHTS

    vals = ", ".join(f"('{k}', {v})" for k, v in MIXTURE_WEIGHTS.items())
    return f"""
    WITH w(lang, w) AS (VALUES {vals}),
    counts AS (
        SELECT d.lang, w.w, COUNT(*) AS n_g
        FROM documents d JOIN w ON d.lang = w.lang GROUP BY d.lang, w.w
    ),
    nn AS (SELECT MIN(n_g * 100 // w) AS n_mix FROM counts),
    quota AS (SELECT lang, (w * n_mix) // 100 AS keep_n FROM counts, nn),
    ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT r.doc_id, r.lang
    FROM ranked r JOIN quota q ON r.lang = q.lang
    WHERE r.rk <= q.keep_n
    ORDER BY r.doc_id
    """


@register_extra(
    "corpus_mixture_sample",
    _mixture_oracle(),
    description="Corpus-mixture resampling (pretraining data mixing): each "
    "language downsampled by an identity-hash rank to integer-exact quotas "
    "floor(w_g*N/100), N = the largest kept total every group can serve at "
    "its target share — deterministic across re-runs/backfills/engines, "
    "never rand()",
    tags=("sampling", "curation"),
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_aws_etl_pipeline_spark.operators import sampling as SMP

    t = load_tables(spark, sf_dir, ["documents"])
    return SMP.mixture_sample(t["documents"]).select("doc_id", "lang").orderBy("doc_id")


# ---------------------------------------------------------------------------
# PII scrub: deterministic injection (same expression both sides) so counts
# are non-zero and the redaction output is byte-comparable via md5.
# ---------------------------------------------------------------------------

#: One PII instance of each kind appended per doc; pure integer-concat
#: formulas shared verbatim (modulo dialect) between Spark and the oracle.
_PII_INJECT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org'"
    " || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)"
    " || '.' || CAST(doc_id % 100 AS VARCHAR)"
    " || ' ssn ' || CAST(doc_id % 900 + 100 AS VARCHAR)"
    " || '-' || CAST(doc_id % 90 + 10 AS VARCHAR)"
    " || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)"
    " || ' tel 555.' || CAST((doc_id * 7) % 900 + 100 AS VARCHAR)"
    " || '.' || CAST((doc_id * 11) % 9000 + 1000 AS VARCHAR)"
)


def _pii_oracle() -> str:
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{kind}"
        for kind, pat, _repl in TX.PII_PATTERNS
    )
    scrub = "text"
    for _kind, pat, repl in TX.PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{repl}', 'g')"
    return f"""
    WITH injected AS (SELECT doc_id, {_PII_INJECT_SQL} AS text FROM documents)
    SELECT doc_id,
           {counts},
           md5({scrub}) AS clean_md5
    FROM injected ORDER BY doc_id
    """


@register_extra(
    "pii_scrub_stats",
    _pii_oracle(),
    description="PII detection + redaction (emails, SSNs, phone numbers, "
    "IPv4) as pure scan-side regexp Column expressions — the standard "
    "pre-training scrub pass. Deterministic PII is injected per doc by the "
    "same integer formula on both sides; counts are taken pre-redaction "
    "and the redacted text is compared byte-exactly via md5",
    tags=("text", "pii", "scrub"),
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    d = F.col("doc_id")

    def s(e):
        return e.cast("string")

    injected = t["documents"].select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), s(d), F.lit("@ex"), s(d % 7), F.lit(".org"),
            F.lit(" ip 10."), s(d % 256), F.lit("."), s((d * 3) % 256),
            F.lit("."), s(d % 100),
            F.lit(" ssn "), s(d % 900 + 100), F.lit("-"), s(d % 90 + 10),
            F.lit("-"), s(d % 9000 + 1000),
            F.lit(" tel 555."), s((d * 7) % 900 + 100), F.lit("."),
            s((d * 11) % 9000 + 1000),
        ).alias("text"),
    )
    out = TX.scrub_pii(TX.with_pii_counts(injected))
    return out.select(
        "doc_id",
        *[f"n_{kind}" for kind, _p, _r in TX.PII_PATTERNS],
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


@register_extra(
    "decimal_money_totals",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS VARCHAR) AS revenue_dec,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue_dbl
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="DECIMAL(28,6) money aggregation end-to-end (SURVEY §7.4 "
    "risk 6): the exact decimal sum surfaced BOTH as its lossless string "
    "form and as the double the rest of the registry uses (dec_sum) — "
    "demonstrating the two forms agree and that exact-money pipelines can "
    "keep DECIMAL all the way to the sink",
    tags=("agg", "decimal"),
)
def decimal_money_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    dec = F.sum(F.col("l_extendedprice").cast("decimal(28,6)"))
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            dec.cast("string").alias("revenue_dec"),
            dec.cast("double").alias("revenue_dbl"),
        )
        .orderBy("l_returnflag")
    )


@register_extra(
    "media_byte_histogram",
    """
    WITH ascii_docs AS (
        SELECT doc_id, text FROM documents WHERE regexp_matches(text, '^[ -~]*$')
    ),
    chars AS (
        SELECT doc_id, unicode(substr(text, i.i, 1)) AS byte
        FROM ascii_docs, UNNEST(generate_series(1, length(text))) AS i(i)
    )
    SELECT doc_id AS media_id, byte, COUNT(*) AS n
    FROM chars GROUP BY doc_id, byte
    ORDER BY media_id, byte
    """,
    description="Multimodal binary plumbing: utf-8 payloads through the "
    "mapInPandas byte-histogram kernel (ASCII docs => oracle = codepoint "
    "histogram)",
    tags=("multimodal", "pandas_udf"),
)
def media_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_aws_etl_pipeline_spark.operators import multimodal as MM

    t = load_tables(spark, sf_dir, ["documents"])
    ascii_docs = t["documents"].filter(F.col("text").rlike("^[ -~]*$"))
    media = MM.media_from_documents(ascii_docs)
    return MM.byte_histogram(media).orderBy("media_id", "byte")


WINNOW_WINDOW = 4  # k-gram window for winnowing (MOSS-style)


@register_extra(
    "doc_winnowing",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    grams AS (
        SELECT doc_id, i.i AS pos,
               md5(array_to_string(toks[i.i:i.i + 2], ' ')) AS ghash,
               len(toks) - 2 AS n_grams
        FROM toks, UNNEST(generate_series(1, len(toks) - 2)) AS i(i)
    ),
    winmin AS (
        SELECT doc_id, pos, n_grams,
               MIN(ghash) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {WINNOW_WINDOW - 1} FOLLOWING
               ) AS wfp
        FROM grams
    )
    SELECT DISTINCT doc_id, wfp
    FROM winmin
    WHERE pos <= n_grams - {WINNOW_WINDOW - 1}
    ORDER BY doc_id, wfp
    """,
    description="Winnowing (rolling-hash) document fingerprints: min hash "
    "per sliding window of positional 3-gram hashes (MOSS-style)",
    tags=("text", "dedup", "fingerprint"),
)
def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    from pyspark.sql import Window as W

    # tokenize once per row; split() inside the lambda would re-tokenize per
    # gram (no CSE across the lambda boundary — measured 4x on shingles)
    # size guard (the shingles-kernel lesson, r12): sequence(1, 0) is
    # descending, so short docs need the explicit empty branch.
    grams_arr = (
        "CASE WHEN size(__toks) >= 3 THEN"
        " transform(sequence(1, size(__toks) - 2),"
        " i -> md5(concat_ws(' ', slice(__toks, i, 3))))"
        " ELSE array() END"
    )
    positional = (
        t["documents"]
        .withColumn("__toks", F.split("text", " "))
        .select(
            "doc_id",
            F.posexplode(F.expr(grams_arr)).alias("pos0", "ghash"),
            (F.size(F.col("__toks")) - 2).alias("n_grams"),
        )
    )
    w = W.partitionBy("doc_id").orderBy("pos0").rowsBetween(0, WINNOW_WINDOW - 1)
    winmin = positional.withColumn("wfp", F.min("ghash").over(w))
    return (
        winmin.filter(F.col("pos0") + 1 <= F.col("n_grams") - (WINNOW_WINDOW - 1))
        .select("doc_id", "wfp")
        .distinct()
        .orderBy("doc_id", "wfp")
    )


@register_extra(
    "sketch_accuracy_stats",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
           percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS p90,
           percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice) AS p99,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    description="Exact ground-truth counterpart of approx_sketch_stats: "
    "COUNT(DISTINCT) + discrete percentiles (element-picking — no "
    "interpolation arithmetic, so each value is an actual data element and "
    "bit-identical across engines; percentile_cont's `lo + frac*(hi-lo)` "
    "double math is not). The Spark side computes all three quantiles in "
    "ONE histogram pass — groupBy (flag, value) counts, per-flag "
    "cumulative sum, integer-exact rank thresholds (cum*2>=n etc. — "
    "cume_dist>=q without any division) — instead of three separate "
    "percentile_disc aggregates, each of which buffers every value per "
    "group (measured 2x: 4.15s -> 2.1s at sf0.1). Per-flag window state "
    "is bounded by the VALUE-DOMAIN cardinality, not the row count; for "
    "an unbounded continuous domain swap the window for the two-level "
    "rank used by customer_spend_deciles. This is the hash-checkable "
    "driver query; the sketch kernels (approx_count_distinct / "
    "approx_percentile) stay the 100 TB knob and are tolerance-gated "
    "against this exact frame in "
    "tests/test_extensions.py::test_approx_sketch_within_tolerance.",
    tags=("agg", "exact"),
)
def sketch_accuracy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ["lineitem"])
    li = t["lineitem"]
    hist = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = (
        W.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("c").over(w))
    totals = hist.groupBy("l_returnflag").agg(F.sum("c").alias("n"))
    # percentile_disc(q) == smallest value whose cume_dist >= q, i.e. the
    # first histogram bucket with cum >= q*n — compared integer-exactly.
    quantiles = (
        cum.join(F.broadcast(totals), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("l_extendedprice"))).alias("p50"),
            F.min(F.when(F.col("cum") * 10 >= 9 * F.col("n"), F.col("l_extendedprice"))).alias("p90"),
            F.min(F.when(F.col("cum") * 100 >= 99 * F.col("n"), F.col("l_extendedprice"))).alias("p99"),
            F.max("n").alias("n"),
        )
    )
    distinct = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("distinct_parts")
    )
    return (
        distinct.join(quantiles, "l_returnflag")
        .select("l_returnflag", "distinct_parts", "p50", "p90", "p99", "n")
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# IVF ANN: deterministic integer k-means cells (centroids shared w/ oracle)
# ---------------------------------------------------------------------------


#: Registered-query IVF knobs: centroids fit on the deterministic
#: id % IVF_SAMPLE_MOD == 0 systematic sample (no full-corpus collect),
#: probes search their IVF_NPROBE nearest cells.
IVF_SAMPLE_MOD = 4
IVF_NPROBE = 2

#: At-rest IVF index format version. Folded into the standing-index cache
#: key alongside IVF_CENTROIDS / QUANT_SCALE / IVF_SAMPLE_MOD, so a /tmp
#: index built by older code can never be silently reused (ADVICE r11).
#: BUMP THIS with any change to the centroid-fit algorithm, quantization,
#: sidecar schema, or on-disk layout that the other key fields don't carry.
IVF_INDEX_FORMAT_VERSION = 1

#: Standing IVF indexes whose marker mtime (set once, at build) is older
#: than this are GC'd on the next BUILD. Old-format or superseded-corpus
#: dirs hash to names nothing will ever look up again, so without this
#: they accumulate unboundedly in the tempdir (ADVICE r11's second half).
IVF_INDEX_GC_SECONDS = 7 * 24 * 3600


def _gc_stale_ivf_indexes(keep: str) -> None:
    """Remove sibling ``graft_ivf_index_*`` dirs that nothing will reuse:
    marker-less leftovers (interrupted builds) immediately, completed
    indexes once older than IVF_INDEX_GC_SECONDS. Runs only on the build
    path (never on cache hits), so a hot index is re-created at most once
    per GC window; ``ivf_index_build_*`` scratch dirs of concurrent
    builders are a different prefix and never touched."""
    import glob as _g
    import os
    import shutil
    import tempfile
    import time

    now = time.time()
    for d in _g.glob(os.path.join(tempfile.gettempdir(), "graft_ivf_index_*")):
        if os.path.abspath(d) == os.path.abspath(keep):
            continue
        m = os.path.join(d, "_GRAFT_COMPLETE")
        try:
            stale = (not os.path.exists(m)) or (
                now - os.path.getmtime(m) > IVF_INDEX_GC_SECONDS
            )
        except OSError:
            stale = True
        if stale:
            shutil.rmtree(d, ignore_errors=True)


def ivf_standing_index_dir(sf_dir: str) -> tuple[str, str, str]:
    """Standing-index location + completion-marker key for a corpus.

    The SINGLE source of truth for the cache-key derivation (ADVICE r12:
    the key was hand-duplicated in ``scripts/ivf_cold_warm.py`` and
    ``tests/test_ivf_index.py``, so the next key field added here would
    silently desynchronize the reproducer, which would then rmtree a
    nonexistent dir and report a warm build as cold). Returns
    ``(index_dir, marker_path, full_key)``; the marker file, when its
    contents equal ``full_key``, certifies a complete current index.

    The key must cover the index FORMAT, not just the input: centroid
    count, quantization scale, and the build-code version all change the
    at-rest bytes, and a key that omits them silently reuses a stale
    /tmp index built by older code (ADVICE r11). Bump
    IVF_INDEX_FORMAT_VERSION with ANY centroid-fit / quantization /
    layout change.
    """
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    st_ = os.stat(src)
    full_key = (
        f"{os.path.abspath(src)}:{st_.st_mtime_ns}:{st_.st_size}"
        f":{IVF_SAMPLE_MOD}:{S.IVF_CENTROIDS}:{S.QUANT_SCALE}"
        f":v{IVF_INDEX_FORMAT_VERSION}"
    )
    key = hashlib.md5(full_key.encode()).hexdigest()[:16]
    index_dir = os.path.join(tempfile.gettempdir(), f"graft_ivf_index_{key}")
    marker = os.path.join(index_dir, "_GRAFT_COMPLETE")
    return index_dir, marker, full_key


@functools.cache
def _ivf_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    # Memoized (ADVICE r9): IVF_INDEXED_ORACLE and the recall sweep call
    # this at import time, and the centroid fit
    # (parquet read + numpy Lloyd iterations) is a nontrivial side effect
    # — one fit per process, not one per call site. The sf_dir parameter
    # exists for the REFIT-oracle scale proof (scripts/ivf_refit_proof.py
    # fits the literals from sf0.1 and compares there once per round);
    # the registered oracle stays sf0.01-pinned.
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    cents = S.ivf_centroids_from_parquet(path, sample_mod=IVF_SAMPLE_MOD)
    d_exprs = ", ".join(
        "CAST(list_sum(list_transform(range(1, len(qvec) + 1), "
        f"i -> (qvec[i] - c{c}[i]) * (qvec[i] - c{c}[i]))) AS BIGINT) AS d{c}"
        for c in range(len(cents))
    )
    cent_literals = ", ".join(
        f"[{', '.join(str(x) for x in cent)}] AS c{c}" for c, cent in enumerate(cents)
    )
    least = ", ".join(f"d{c}" for c in range(len(cents)))
    cell_case = " ".join(f"WHEN d{c} = m THEN {c}" for c in range(len(cents)))
    struct_list = ", ".join(f"{{'d': d{c}, 'c': {c}}}" for c in range(len(cents)))
    return f"""
    WITH {_quant_cte()},
    dists AS (
        SELECT vec_id, qvec, qnorm, {d_exprs}
        FROM n, (SELECT {cent_literals}) cents
    ),
    cells AS (
        SELECT vec_id, qvec, qnorm,
               CAST(CASE {cell_case} END AS BIGINT) AS cell
        FROM (SELECT *, LEAST({least}) AS m FROM dists)
    ),
    probe_cells AS (
        SELECT vec_id, qvec, qnorm, CAST(t.cell AS BIGINT) AS cell
        FROM (
            SELECT vec_id, qvec, qnorm,
                   list_transform(list_slice(list_sort([{struct_list}]), 1, {IVF_NPROBE}), s -> s.c) AS pcells
            FROM dists
            WHERE vec_id IN ({", ".join(map(str, ANN_PROBE_IDS))})
        ), UNNEST(pcells) AS t(cell)
    ),
    ranked AS (
        SELECT p.vec_id AS probe_id, c.vec_id,
               CAST(list_sum(list_transform(range(1, len(p.qvec) + 1), i -> p.qvec[i] * c.qvec[i])) AS BIGINT) AS dot_q,
               p.qnorm AS pn, c.qnorm AS cn,
               ROW_NUMBER() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY CAST(list_sum(list_transform(range(1, len(p.qvec) + 1), i -> p.qvec[i] * c.qvec[i])) AS BIGINT)
                            / sqrt(CAST(p.qnorm * c.qnorm AS DOUBLE)) DESC, c.vec_id ASC) AS rank
        FROM probe_cells p
        JOIN cells c ON p.cell = c.cell AND c.vec_id != p.vec_id
    )
    SELECT probe_id, vec_id, dot_q,
           dot_q / sqrt(CAST(pn * cn AS DOUBLE)) AS cosine,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {ANN_K}
    ORDER BY probe_id, rank
    """


#: Oracle for :func:`ann_topk_ivf_indexed` — the in-memory IVF oracle by
#: construction: the at-rest index persists the same quantization, the same
#: deterministic centroid fit, and the same cell assignment the in-memory
#: operator computes per query, so querying it with the same nprobe must
#: return the identical rows. (Shared-oracle twin: if both are ever
#: registered, the weakest-variant rule retires one — tracked in the
#: COVERAGE.md staged table.)
IVF_INDEXED_ORACLE = _ivf_oracle()


@register_extra(
    "ann_topk_ivf_indexed",
    IVF_INDEXED_ORACLE,
    description="IVF ANN index AT REST: cell-partitioned parquet + "
    "centroid sidecar built once, probes' cells pushed into the read as "
    "a partition filter so the executed plan reads only nprobe/n_cells "
    "of the files (plan-gated) — the build-once/query-many production "
    "shape. Shares _ivf_oracle verbatim with the in-memory form it "
    "replaced at the r11 cap swap (ann_topk_ivf, r8-due).",
    tags=("similarity", "ivf", "index"),
)
def ann_topk_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index AT REST — build once, query via static
    partition pruning. ``ivf_index_write`` materializes quantized vectors
    + norms partitioned by cell (centroids in a hidden ``_centroids``
    sidecar); ``ivf_index_topk`` computes the probes' cells scan-side and
    pushes them into the read as a partition filter, so the executed plan
    reads ONLY the probed cells' files (``PartitionFilters: [cell IN
    ...]`` — plan-gated). This is the build-once/query-many production
    shape: at corpus scale the per-query cost drops from a full scan to
    ``nprobe / n_cells`` of the data, and the expensive passes (centroid
    fit, corpus assignment) amortize over every query against the index.

    The index is CACHED at rest, keyed by the input's (path, mtime,
    size): the first call per corpus builds into a scratch dir and
    atomically renames it into place (a completion marker written
    BEFORE the rename makes partially-built dirs unreachable; a lost
    rename race just reuses the winner's identical index — the build is
    deterministic and append==rebuild is pinned by test). Every later
    call — bench repeats, the driver's run, production queries — reads
    the standing index, which is exactly the build-once/query-many
    claim this operator exists to register; a changed corpus changes
    the key and rebuilds."""
    import os
    import shutil
    import tempfile

    t = load_tables(spark, sf_dir, ["embeddings"])
    src = os.path.join(sf_dir, "embeddings.parquet")
    index_dir, marker, full_key = ivf_standing_index_dir(sf_dir)

    def _marker_valid() -> bool:
        try:
            with open(marker) as f:
                return f.read() == full_key
        except OSError:
            return False

    if _marker_valid():
        # Cache hit: refresh the marker so GC staleness means
        # time-since-last-USE, not time-since-build (ADVICE r12: a hot
        # index older than the GC window was deleted by any sibling
        # build — possibly under a live lazy plan in another process).
        try:
            os.utime(marker)
        except OSError:
            pass
    else:
        cents = S.ivf_centroids_from_parquet(src, sample_mod=IVF_SAMPLE_MOD)
        build = tempfile.mkdtemp(prefix="ivf_index_build_")
        S.ivf_index_write(t["embeddings"], build, centroids=cents)
        with open(os.path.join(build, "_GRAFT_COMPLETE"), "w") as f:
            f.write(full_key)
        # Install protocol (ADVICE r12): NEVER pre-delete the target —
        # racing cold-start builders meant the loser wiped the winner's
        # just-completed LIVE index for a window, and any reader hitting
        # that window got FileNotFound. Rename first; it only fails when
        # a same-named dir exists. If that dir now carries a valid
        # marker, a concurrent builder won — reuse its identical index
        # (the build is deterministic). Only a marker-less/stale dir (an
        # interrupted build) is removed, then ONE retry; a second
        # failure is again a concurrent winner.
        try:
            os.rename(build, index_dir)
        except OSError:
            if _marker_valid():
                shutil.rmtree(build, ignore_errors=True)
            else:
                shutil.rmtree(index_dir, ignore_errors=True)
                try:
                    os.rename(build, index_dir)
                except OSError:
                    shutil.rmtree(build, ignore_errors=True)
        _gc_stale_ivf_indexes(keep=index_dir)
    probes = t["embeddings"].filter(F.col("vec_id").isin(ANN_PROBE_IDS))
    return S.ivf_index_topk(probes, index_dir, ANN_K, nprobe=IVF_NPROBE).orderBy(
        "probe_id", "rank"
    )


# ---------------------------------------------------------------------------
# Dedup clustering + dataset curation queries
# ---------------------------------------------------------------------------


#: transitive-closure oracle shared by both connected-components variants
#: (they compute the identical labeling by different distributed algorithms)
_NEAR_DUP_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {GRAMS_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    prs AS (
        SELECT cm.id_a, cm.id_b
        FROM common cm
        JOIN sizes sa ON sa.doc_id = cm.id_a
        JOIN sizes sb ON sb.doc_id = cm.id_b
        WHERE cm.common * 5 >= (sa.n + sb.n - cm.common)
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM prs
        UNION ALL SELECT id_b, id_a FROM prs
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
    csize AS (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
    )
    SELECT c.doc_id, c.cluster_id, s.cluster_size
    FROM comp c JOIN csize s ON c.cluster_id = s.cluster_id
    ORDER BY c.doc_id
    """


def _near_dup_cluster_frame(spark: SparkSession, sf_dir: str, cc_impl) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    grams = D.shingles(t["documents"]).persist()
    counts = D.jaccard_counts(grams)
    pairs = counts.filter(
        F.col("common") * 5 >= (F.col("n_a") + F.col("n_b") - F.col("common"))
    ).select("id_a", "id_b")
    comp = cc_impl(pairs, t["documents"].select("doc_id"))
    csize = comp.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(csize, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


@register(
    "near_dup_clusters",
    _NEAR_DUP_CLUSTERS_ORACLE,
    description="Near-dup CLUSTERS: pairwise n-gram-Jaccard hits resolved "
    "into connected components by iterative min-label propagation (the "
    "step that turns pair lists into actual dedup decisions); oracle = "
    "DuckDB recursive-CTE transitive closure",
    tags=("dedup", "graph"),
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _near_dup_cluster_frame(spark, sf_dir, D.connected_components)


def _split_oracle() -> str:
    from retail_aws_etl_pipeline_spark.operators import sampling as SMP

    nib = (
        lambda i: f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    )  # noqa: E731
    bucket = (
        f"({nib(1)} * 4096 + {nib(2)} * 256 + {nib(3)} * 16 + {nib(4)})"
        f" % {SMP.SPLIT_BUCKETS}"
    )
    return f"""
    WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
    b AS (SELECT doc_id, {bucket} AS bucket FROM h)
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket < {SMP.TRAIN_BUCKETS} THEN 'train'
                WHEN bucket < {SMP.TRAIN_BUCKETS + SMP.VALID_BUCKETS} THEN 'valid'
                ELSE 'test' END AS split
    FROM b
    ORDER BY doc_id
    """


@register(
    "dataset_split_assignment",
    _split_oracle(),
    description="Deterministic train/valid/test split: bucket = first 16 "
    "bits of md5(doc_id) mod 100 — stable across re-runs/backfills/engines, "
    "never rand(); scan-side projection at scale",
    tags=("sampling",),
)
def dataset_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_aws_etl_pipeline_spark.operators import sampling as SMP

    t = load_tables(spark, sf_dir, ["documents"])
    return (
        SMP.with_split_assignment(t["documents"])
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")
    )


def _quality_filter_oracle() -> str:
    stop = ", ".join(repr(m) for m in TX.EN_STOPWORDS)
    return f"""
    WITH feats AS (
        SELECT doc_id, lang,
               length(text) AS n_chars_m,
               len(string_split(text, ' ')) AS n_tokens,
               length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ({stop}))) AS n_stopwords
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               CASE WHEN n_tokens < 5 THEN 0.0
                    ELSE (1.0 - CAST(n_punct AS DOUBLE) / n_chars_m) * 0.5
                         + least(CAST(n_stopwords AS DOUBLE) / n_tokens * 4.0, 1.0) * 0.3
                         + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2
               END AS quality_score
        FROM feats
    ),
    ranked AS (
        SELECT doc_id, lang, quality_score,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY quality_score DESC, doc_id ASC) AS q_rank,
               COUNT(*) OVER (PARTITION BY lang) AS n_lang
        FROM scored
    )
    SELECT doc_id, lang, CAST(q_rank AS BIGINT) AS q_rank, quality_score
    FROM ranked WHERE q_rank * 2 <= n_lang
    ORDER BY lang, q_rank
    """


@register_extra(
    "quality_top_half_per_lang",
    _quality_filter_oracle(),
    description="Per-group quality filtering: keep each language's top "
    "half by composite quality score — rank-based (integer-exact), not a "
    "double median cut; the corpus-curation filter before training",
    tags=("text", "sampling", "window"),
)
def quality_top_half_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ["documents"])
    feats = TX.quality_features(t["documents"])
    w = W.partitionBy("lang").orderBy(F.col("quality_score").desc(), F.col("doc_id").asc())
    ranked = feats.withColumn("q_rank", F.row_number().over(w).cast("long")).withColumn(
        "n_lang", F.count(F.lit(1)).over(W.partitionBy("lang"))
    )
    return (
        ranked.filter(F.col("q_rank") * 2 <= F.col("n_lang"))
        .select("doc_id", "lang", "q_rank", "quality_score")
        .orderBy("lang", "q_rank")
    )


def _packing_oracle() -> str:
    from retail_aws_etl_pipeline_spark.operators import sampling as SMP

    cap = SMP.PACK_CAPACITY
    return f"""
    WITH t AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_toks,
               SUM(n_toks) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_toks AS start
        FROM t
    )
    SELECT lang, CAST(start // {cap} AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM c
    GROUP BY lang, start // {cap}
    ORDER BY lang, pack_id
    """


@register_extra(
    "sequence_packing_chunks",
    _packing_oracle(),
    description="Sequence packing: documents laid into a contiguous token "
    "stream per language shard, chunked at fixed token capacity (pack = "
    "chunk containing the doc's first token) — the batch-prep step before "
    "training; sharded window, never a global-order running sum",
    tags=("sampling", "window", "text"),
)
def sequence_packing_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_aws_etl_pipeline_spark.operators import sampling as SMP

    t = load_tables(spark, sf_dir, ["documents"])
    packed = SMP.with_pack_assignment(t["documents"])
    return (
        packed.groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "pack_id")
    )


# ---------------------------------------------------------------------------
# Curation audits: decontamination, vocabulary, split leakage
# ---------------------------------------------------------------------------


@register_extra(
    "benchmark_contamination",
    f"""
    WITH {GRAMS_CTE},
    probe AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 5)
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS shared_grams
    FROM grams g JOIN probe p ON g.gram = p.gram
    WHERE g.doc_id >= 5
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
    description="Benchmark decontamination: per-doc count of word 3-grams "
    "shared with a probe/benchmark set (docs 0-4); broadcast the probe "
    "gram dictionary, semi-join the corpus gram stream — the standard "
    "train-set contamination audit",
    tags=("text", "curation"),
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    grams = D.shingles(t["documents"])
    probe = grams.filter(F.col("doc_id") < 5).select("gram").distinct()
    return (
        grams.filter(F.col("doc_id") >= 5)
        .join(F.broadcast(probe), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .orderBy("doc_id")
    )


def _signal_report_oracle() -> str:
    sums, sim = _sim_sql_fragments()
    mins = ", ".join(
        f"MIN(md5('{s}|' || gram)) AS mh{s}" for s in range(D.NUM_HASHES)
    )
    mh_cols = ", ".join(f"s.mh{s}" for s in range(D.NUM_HASHES))
    return f"""
    WITH {GRAMS_CTE},
    agg AS (
        SELECT doc_id, COUNT(*) AS n_grams, {sums}, {mins}
        FROM grams GROUP BY doc_id
    ),
    sigs AS (
        SELECT doc_id, n_grams, {sim} AS simhash,
               {", ".join(f"mh{s}" for s in range(D.NUM_HASHES))}
        FROM agg
    ),
    ex AS (SELECT doc_id, md5(text) AS text_hash FROM documents),
    exn AS (SELECT text_hash, COUNT(*) AS n_exact_dups FROM ex GROUP BY text_hash)
    SELECT e.doc_id, e.text_hash, exn.n_exact_dups, s.n_grams, s.simhash, {mh_cols}
    FROM ex e
    JOIN exn ON exn.text_hash = e.text_hash
    LEFT JOIN sigs s ON s.doc_id = e.doc_id
    ORDER BY e.doc_id
    """


@register(
    "dedup_signal_report",
    _signal_report_oracle(),
    description="ALL per-doc dedup signals in one fused pass: exact-dup "
    "group size, shingle count, 60-bit simhash, and every MinHash "
    "signature from a single groupBy(doc) over one gram stream — the "
    "shingle explosion and the per-doc exchange are paid once for the "
    "whole dedup family",
    tags=("dedup", "curation"),
)
def dedup_signal_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    sigs = D.per_doc_signatures(D.shingles(docs))
    ex = docs.select("doc_id", F.md5("text").alias("text_hash"))
    exn = ex.groupBy("text_hash").agg(F.count(F.lit(1)).alias("n_exact_dups"))
    return (
        ex.join(exn, "text_hash")
        .join(sigs, "doc_id", "left")
        .select(
            "doc_id",
            "text_hash",
            "n_exact_dups",
            "n_grams",
            "simhash",
            *[f"mh{s}" for s in range(D.NUM_HASHES)],
        )
        .orderBy("doc_id")
    )


SWEEP_PLANE_COUNTS = (4, 6, 8)
SWEEP_NPROBES = (1, 2)


def _recall_sweep_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    import os

    probe_list = ", ".join(map(str, ANN_PROBE_IDS))

    def cfg(n: int) -> str:
        return f"""
    buckets{n} AS (
        SELECT n.vec_id, n.qvec, n.qnorm,
               CAST(SUM(CASE WHEN CAST(list_sum(list_transform(range(1, len(n.qvec) + 1),
                        i -> n.qvec[i] * w[i])) AS BIGINT) >= 0
                        THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
        FROM n, {_planes_values(n)}
        GROUP BY n.vec_id, n.qvec, n.qnorm
    ),
    lcand{n} AS (
        SELECT p.vec_id AS probe_id, c.vec_id,
               CAST(list_sum(list_transform(range(1, len(p.qvec) + 1), i -> p.qvec[i] * c.qvec[i])) AS BIGINT)
                   / sqrt(CAST(p.qnorm * c.qnorm AS DOUBLE)) AS cosine
        FROM buckets{n} p
        JOIN buckets{n} c ON bit_count(xor(p.bucket, c.bucket)) <= 1 AND c.vec_id != p.vec_id
        WHERE p.vec_id IN ({probe_list})
    ),
    lsh{n} AS (
        SELECT probe_id, vec_id, n_cand FROM (
            SELECT probe_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY probe_id ORDER BY cosine DESC, vec_id ASC) AS rank,
                   COUNT(*) OVER (PARTITION BY probe_id) AS n_cand
            FROM lcand{n}
        ) WHERE rank <= {ANN_K}
    )"""

    def lsh_leg(n: int) -> str:
        return f"""
    SELECT 'lsh' AS method, CAST({n} AS BIGINT) AS param, e.probe_id,
           MAX(l.n_cand) AS n_cand,
           COUNT(l.vec_id) AS n_common,
           COUNT(l.vec_id) / {float(ANN_K)} AS recall
    FROM exact_topk e
    LEFT JOIN lsh{n} l ON l.probe_id = e.probe_id AND l.vec_id = e.vec_id
    GROUP BY e.probe_id"""

    # IVF legs share the registered index's centroids (sampled fit)
    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    cents = S.ivf_centroids_from_parquet(path, sample_mod=IVF_SAMPLE_MOD)
    d_exprs = ", ".join(
        "CAST(list_sum(list_transform(range(1, len(qvec) + 1), "
        f"i -> (qvec[i] - c{c}[i]) * (qvec[i] - c{c}[i]))) AS BIGINT) AS d{c}"
        for c in range(len(cents))
    )
    cent_literals = ", ".join(
        f"[{', '.join(str(x) for x in cent)}] AS c{c}" for c, cent in enumerate(cents)
    )
    least = ", ".join(f"d{c}" for c in range(len(cents)))
    cell_case = " ".join(f"WHEN d{c} = m THEN {c}" for c in range(len(cents)))
    struct_list = ", ".join(f"{{'d': d{c}, 'c': {c}}}" for c in range(len(cents)))

    def ivf_cfg(np_: int) -> str:
        return f"""
    pc{np_} AS (
        SELECT vec_id, qvec, qnorm, CAST(t.cell AS BIGINT) AS cell
        FROM (
            SELECT vec_id, qvec, qnorm,
                   list_transform(list_slice(list_sort([{struct_list}]), 1, {np_}), s -> s.c) AS pcells
            FROM dists WHERE vec_id IN ({probe_list})
        ), UNNEST(pcells) AS t(cell)
    ),
    icand{np_} AS (
        SELECT p.vec_id AS probe_id, c.vec_id,
               CAST(list_sum(list_transform(range(1, len(p.qvec) + 1), i -> p.qvec[i] * c.qvec[i])) AS BIGINT)
                   / sqrt(CAST(p.qnorm * c.qnorm AS DOUBLE)) AS cosine
        FROM pc{np_} p JOIN cells c ON p.cell = c.cell AND c.vec_id != p.vec_id
    ),
    ivf{np_} AS (
        SELECT probe_id, vec_id, n_cand FROM (
            SELECT probe_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY probe_id ORDER BY cosine DESC, vec_id ASC) AS rank,
                   COUNT(*) OVER (PARTITION BY probe_id) AS n_cand
            FROM icand{np_}
        ) WHERE rank <= {ANN_K}
    )"""

    def ivf_leg(np_: int) -> str:
        return f"""
    SELECT 'ivf' AS method, CAST({np_} AS BIGINT) AS param, e.probe_id,
           MAX(l.n_cand) AS n_cand,
           COUNT(l.vec_id) AS n_common,
           COUNT(l.vec_id) / {float(ANN_K)} AS recall
    FROM exact_topk e
    LEFT JOIN ivf{np_} l ON l.probe_id = e.probe_id AND l.vec_id = e.vec_id
    GROUP BY e.probe_id"""

    return f"""
    WITH {_quant_cte()},
    epairs AS (
        SELECT p.vec_id AS probe_id, c.vec_id,
               CAST(list_sum(list_transform(range(1, len(p.qvec) + 1), i -> p.qvec[i] * c.qvec[i])) AS BIGINT) AS dot_q,
               p.qnorm AS pn, c.qnorm AS cn
        FROM n p, n c
        WHERE p.vec_id IN ({probe_list}) AND c.vec_id != p.vec_id
    ),
    exact_topk AS (
        SELECT probe_id, vec_id FROM (
            SELECT probe_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY probe_id
                       ORDER BY dot_q / sqrt(CAST(pn * cn AS DOUBLE)) DESC, vec_id ASC) AS rank
            FROM epairs
        ) WHERE rank <= {ANN_K}
    ),
    dists AS (
        SELECT vec_id, qvec, qnorm, {d_exprs}
        FROM n, (SELECT {cent_literals}) cents
    ),
    cells AS (
        SELECT vec_id, qvec, qnorm,
               CAST(CASE {cell_case} END AS BIGINT) AS cell
        FROM (SELECT *, LEAST({least}) AS m FROM dists)
    ),
    {", ".join(cfg(n).lstrip() for n in SWEEP_PLANE_COUNTS)},
    {", ".join(ivf_cfg(np_).lstrip() for np_ in SWEEP_NPROBES)}
    {" UNION ALL ".join([lsh_leg(n) for n in SWEEP_PLANE_COUNTS] + [ivf_leg(np_) for np_ in SWEEP_NPROBES])}
    ORDER BY method, param, probe_id
    """


@register_extra(
    "ann_recall_sweep",
    _recall_sweep_oracle(),
    description="ANN quality/selectivity sweep: recall@10 AND candidate-set "
    "size of the multi-probe LSH index (4/6/8 hyperplanes) and the IVF "
    "index (nprobe 1/2) against the exact scan in one result — the "
    "speed/recall dial measured in-engine instead of a fixed configuration",
    tags=("similarity", "lsh", "ivf", "evaluation"),
)
def ann_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import Window as W

    from retail_aws_etl_pipeline_spark.operators.dedup import _truncate_lineage

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"].select("vec_id", "embedding")
    cents = S.ivf_centroids_from_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), sample_mod=IVF_SAMPLE_MOD
    )

    # ONE shared base: quantize + full 8-plane sign code + IVF cell,
    # materialized once (checkpoint truncates the scan lineage so the ten
    # former per-leg rebuilds collapse into a single pass). Every leg below
    # derives its candidate set from this frame by BIT-MASKING the bucket
    # prefix (PLANES[:n] is bit 0..n-1 of the 8-bit code, so the n-plane
    # bucket is `bucket & (2^n - 1)`) or by filtering the IVF cell rank —
    # no plane re-projection, no centroid re-assignment. r4 bench: the
    # per-leg form cost 4.7s at sf0.1; the shared form removes ~36 plane
    # projections and ~24 centroid distances per row.
    base = _truncate_lineage(
        S.with_lsh_bucket(S.with_quantized(emb))
        .withColumn("cell", S.assign_centroid("qvec", cents))
        .select("vec_id", "qvec", "qnorm", "bucket", "cell"),
        "auto",
    )
    exact = _truncate_lineage(
        S.brute_force_topk(base, ANN_PROBE_IDS, ANN_K).select("probe_id", "vec_id"),
        "auto",
    )

    probes = base.filter(F.col("vec_id").isin(ANN_PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("qvec").alias("p_qvec"),
        F.col("qnorm").alias("p_qnorm"),
        F.col("bucket").alias("p_bucket"),
    )

    # --- LSH: one join at the WIDEST candidate set (fewest planes = coarsest
    # buckets); finer-plane legs are pure filters on the shared xor bits.
    # Candidate sets nest: hamming(xor & mask_n) <= 1 implies the same for
    # every shorter prefix, so the n_min-plane join contains every leg.
    n_min = min(SWEEP_PLANE_COUNTS)
    mask_min = (1 << n_min) - 1
    xor_min = F.bit_count(
        F.col("p_bucket").bitwiseXOR(F.col("bucket")).bitwiseAND(F.lit(mask_min))
    )
    lsh_pairs = (
        F.broadcast(probes)
        .join(base, (xor_min <= F.lit(1)) & (F.col("probe_id") != F.col("vec_id")))
        .withColumn("xb", F.col("p_bucket").bitwiseXOR(F.col("bucket")))
        .withColumn("dot_q", S._dot("p_qvec", "qvec"))
        .withColumn(
            "cosine",
            F.col("dot_q") / F.sqrt((F.col("p_qnorm") * F.col("qnorm")).cast("double")),
        )
        .select("probe_id", "vec_id", "xb", "cosine")
    )
    lsh_pairs = _truncate_lineage(lsh_pairs, "auto")

    # --- IVF: one join at the WIDEST nprobe; narrower legs filter on the
    # probe-side cell rank (posexplode order = distance rank, 0-based).
    np_max = max(SWEEP_NPROBES)
    iv_probes = base.filter(F.col("vec_id").isin(ANN_PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("qvec").alias("p_qvec"),
        F.col("qnorm").alias("p_qnorm"),
        F.posexplode(S.ranked_centroids("qvec", cents, np_max)).alias("cell_rank", "p_cell"),
    )
    ivf_pairs = (
        F.broadcast(iv_probes)
        .join(
            base.select("vec_id", "qvec", "qnorm", "cell"),
            (F.col("p_cell") == F.col("cell")) & (F.col("probe_id") != F.col("vec_id")),
        )
        .withColumn("dot_q", S._dot("p_qvec", "qvec"))
        .withColumn(
            "cosine",
            F.col("dot_q") / F.sqrt((F.col("p_qnorm") * F.col("qnorm")).cast("double")),
        )
        .select("probe_id", "vec_id", "cell_rank", "cosine")
    )
    ivf_pairs = _truncate_lineage(ivf_pairs, "auto")

    # --- Param-fused leg evaluation (r16 optimization — guide §2.4): the
    # old per-leg helper built an independent window + counts groupBy +
    # counts join + exact left-join pipeline for EVERY (method, param)
    # leg — 10 small sort-merge-join chains (52 exchanges, 20 SMJ in the
    # static plan) over candidate frames that nest by construction.
    # Instead each candidate row explodes into the (small, fixed) list of
    # params whose predicate it passes, and ONE window / ONE counts pass /
    # ONE exact join — all keyed by (param, probe_id) — scores every leg
    # of a method together. Per (param, probe) the candidate rows, the
    # row_number order, the top-k, and the MAX(n_cand)-over-matched-rows
    # aggregate are identical to the per-leg form, so the emitted rows are
    # unchanged. The tiny counts / top-k sides broadcast instead of SMJ.
    w = W.partitionBy("param", "probe_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )

    def legs_fused(method: str, cand: DataFrame, params: list[int]) -> DataFrame:
        counts = cand.groupBy("param", "probe_id").agg(
            F.count(F.lit(1)).alias("n_cand")
        )
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= ANN_K)
            .join(F.broadcast(counts), ["param", "probe_id"])
            .select(
                F.col("param").alias("l_param"),
                F.col("probe_id").alias("l_probe"),
                F.col("vec_id").alias("l_vec"),
                F.col("n_cand").alias("l_cand"),
            )
        )
        exact_params = exact.withColumn(
            "param", F.explode(F.array(*[F.lit(p) for p in params]))
        )
        joined = exact_params.join(
            F.broadcast(topk),
            (F.col("param") == F.col("l_param"))
            & (F.col("probe_id") == F.col("l_probe"))
            & (F.col("vec_id") == F.col("l_vec")),
            "left",
        )
        return (
            joined.groupBy("param", "probe_id")
            .agg(F.count("l_vec").alias("n_common"), F.max("l_cand").alias("n_cand"))
            .select(
                F.lit(method).alias("method"),
                F.col("param").cast("long").alias("param"),
                "probe_id",
                "n_cand",
                "n_common",
                (F.col("n_common") / F.lit(float(ANN_K))).alias("recall"),
            )
        )

    lsh_cand = lsh_pairs.select(
        "probe_id",
        "vec_id",
        "cosine",
        F.explode(
            F.array_compact(
                F.array(
                    *[
                        F.when(
                            F.bit_count(
                                F.col("xb").bitwiseAND(F.lit((1 << n) - 1))
                            )
                            <= F.lit(1),
                            F.lit(n),
                        )
                        for n in SWEEP_PLANE_COUNTS
                    ]
                )
            )
        ).alias("param"),
    )
    ivf_cand = ivf_pairs.select(
        "probe_id",
        "vec_id",
        "cosine",
        F.explode(
            F.array_compact(
                F.array(
                    *[
                        F.when(F.col("cell_rank") < F.lit(np_), F.lit(np_))
                        for np_ in SWEEP_NPROBES
                    ]
                )
            )
        ).alias("param"),
    )
    out = legs_fused("lsh", lsh_cand, list(SWEEP_PLANE_COUNTS)).unionByName(
        legs_fused("ivf", ivf_cand, list(SWEEP_NPROBES))
    )
    return out.orderBy("method", "param", "probe_id")


# ---------------------------------------------------------------------------
# Round 6: containment dedup + BM25-shaped relevance (new operator families)
# ---------------------------------------------------------------------------

#: Containment threshold (percent) for doc_containment_pairs_prefix.
CONTAINMENT_PCT = 90


_RETAINED_CORPUS_ORACLE = f"""
    WITH RECURSIVE {GRAMS_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    prs AS (
        SELECT cm.id_a, cm.id_b
        FROM common cm
        JOIN sizes sa ON sa.doc_id = cm.id_a
        JOIN sizes sb ON sb.doc_id = cm.id_b
        WHERE cm.common * 5 >= (sa.n + sb.n - cm.common)
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM prs
        UNION ALL SELECT id_b, id_a FROM prs
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
    csize AS (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
    )
    SELECT d.doc_id, d.lang, d.source, s.cluster_size
    FROM comp c
    JOIN csize s ON s.cluster_id = c.cluster_id
    JOIN documents d ON d.doc_id = c.doc_id
    WHERE c.doc_id = c.cluster_id
    ORDER BY d.doc_id
    """


@register_extra(
    "dedup_retained_corpus",
    _RETAINED_CORPUS_ORACLE,
    description="The END of the dedup pipeline: the surviving corpus after "
    "near-dup removal — one canonical document per connected component "
    "(the min-id doc, which IS the component label by construction, so "
    "survivor selection is a filter `doc_id = cluster_id`, no extra "
    "shuffle) joined back to the documents table. cluster_size rides "
    "along so consumers can weight or audit what each survivor replaced. "
    "This is the production operation the pair/cluster queries feed.",
    tags=("dedup", "graph", "curation"),
)
def dedup_retained_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    grams = D.shingles(docs).persist()
    counts = D.jaccard_counts(grams)
    pairs = counts.filter(
        F.col("common") * 5 >= (F.col("n_a") + F.col("n_b") - F.col("common"))
    ).select("id_a", "id_b")
    comp = D.connected_components(pairs, docs.select("doc_id"))
    csize = comp.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    survivors = (
        comp.filter(F.col("node") == F.col("label"))
        .join(csize, "label")
        .select(F.col("node").alias("doc_id"), "cluster_size")
    )
    return (
        docs.select("doc_id", "lang", "source")
        .join(survivors, "doc_id")
        .select("doc_id", "lang", "source", "cluster_size")
        .orderBy("doc_id")
    )


#: Deterministic "incoming batch" for the incremental-dedup query: every
#: 10th document plays the new arrivals, the rest are the standing corpus.
INCR_BATCH_MOD = 10


@register_extra(
    "incremental_near_dup_pairs",
    f"""
    WITH {GRAMS_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    cross_common AS (
        SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id, COUNT(*) AS common
        FROM grams a
        JOIN grams b ON a.gram = b.gram
        WHERE a.doc_id % {INCR_BATCH_MOD} = 0 AND b.doc_id % {INCR_BATCH_MOD} <> 0
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT cc.batch_id, cc.corpus_id,
           sa.n AS n_batch, sb.n AS n_corpus, cc.common
    FROM cross_common cc
    JOIN sizes sa ON sa.doc_id = cc.batch_id
    JOIN sizes sb ON sb.doc_id = cc.corpus_id
    WHERE cc.common * 5 >= (sa.n + sb.n - cc.common)
    ORDER BY cc.batch_id, cc.corpus_id
    """,
    description="Incremental (batch-vs-corpus) near-dup pairs — the "
    "production cadence: each ingest wave deduplicates against the "
    "standing corpus via a CROSS inverted-index join (batch grams ⋈ "
    "corpus grams), cost proportional to the ARRIVAL RATE rather than "
    "corpus², composing with the within-batch self-join for full "
    "coverage. Same integer-threshold Jaccard ≥ 0.2 gate as the batch "
    "family; the deterministic doc_id % 10 == 0 slice plays the incoming "
    "wave so the oracle is reproducible.",
    tags=("dedup", "incremental"),
)
def incremental_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    grams = D.shingles(docs).persist()
    batch = grams.filter(F.col("doc_id") % INCR_BATCH_MOD == 0)
    corpus = grams.filter(F.col("doc_id") % INCR_BATCH_MOD != 0)
    counts = D.incremental_jaccard_counts(batch, corpus)
    return (
        counts.filter(
            F.col("common") * 5
            >= (F.col("n_batch") + F.col("n_corpus") - F.col("common"))
        )
        .select("batch_id", "corpus_id", "n_batch", "n_corpus", "common")
        .orderBy("batch_id", "corpus_id")
    )


#: Fixed query table for the multi-query BM25 oracle (query_id, term) —
#: three queries over the synthetic corpus vocabulary, mixing common and
#: rare (df≈25) terms so idf weighting differentiates the rankings.
BM25_MULTI_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "join"), (1, "window"), (1, "dup"),
    (2, "scan"), (2, "filter"), (2, "slow"),
    (3, "customer"), (3, "order"), (3, "batch"),
)
BM25_MULTI_K = 10


def _bm25_multi_oracle() -> str:
    from retail_aws_etl_pipeline_spark.operators.textops import BM25_IDF_SCALE

    values = ", ".join(f"({q}, '{t}')" for q, t in BM25_MULTI_QUERIES)
    return f"""
    WITH terms(query_id, term) AS (VALUES {values}),
    dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
    toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
    hits AS (
        SELECT t.doc_id, q.query_id, q.term, COUNT(*) AS tf
        FROM toks t JOIN terms q ON t.term = q.term
        GROUP BY t.doc_id, q.query_id, q.term
    ),
    df_t AS (
        SELECT query_id, term, COUNT(*) AS df_t FROM hits GROUP BY query_id, term
    ),
    stats AS (SELECT COUNT(*) AS N, SUM(dl) AS T FROM dl),
    scored AS (
        SELECT h.query_id, h.doc_id,
               CAST(SUM(CAST(
                   ((s.N * {BM25_IDF_SCALE}) // (d.df_t + 1))
                   * (CAST(10 * h.tf * s.T AS DOUBLE)
                      / (10 * h.tf * s.T + 3 * s.T + 9 * l.dl * s.N))
               AS DECIMAL(28,6))) AS DOUBLE) AS score
        FROM hits h
        JOIN df_t d ON d.query_id = h.query_id AND d.term = h.term
        JOIN dl l ON l.doc_id = h.doc_id
        CROSS JOIN stats s
        GROUP BY h.query_id, h.doc_id
    ),
    ranked AS (
        SELECT query_id, doc_id, score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id ASC
               ) AS BIGINT) AS rank
        FROM scored
    )
    SELECT query_id, doc_id, score, rank
    FROM ranked WHERE rank <= {BM25_MULTI_K}
    ORDER BY query_id, rank
    """


@register_extra(
    "bm25_multi_query_topk",
    _bm25_multi_oracle(),
    description="Multi-query BM25 top-10 per query via a broadcast term "
    "table: tokens explode ONCE and the tiny (query, term) table joins by "
    "broadcast, so selectivity lands at the join and non-matching tokens "
    "never reach the aggregation — the scaling form when per-query "
    "scan-side columns (bm25_query_scores) stop at tens of queries. "
    "Cross-term sums go through the exact-decimal accumulator (groupBy "
    "double-sum order is nondeterministic); per-query ranking pushes into "
    "WindowGroupLimit.",
    tags=("text", "relevance"),
)
def bm25_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_aws_etl_pipeline_spark.operators.textops import (
        bm25_multi_topk,
        bm25_scores_multi,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    terms = spark.createDataFrame(list(BM25_MULTI_QUERIES), ["query_id", "term"])
    scored = bm25_scores_multi(t["documents"], terms)
    return bm25_multi_topk(scored, BM25_MULTI_K).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Distributed k-means (SemDeDup-style corpus clustering)
# ---------------------------------------------------------------------------

def _kmeans_assign_cte(tag: str, cent: str) -> str:
    """One Lloyd assignment pass against centroid table ``cent``."""
    return f"""
    d{tag} AS (
        SELECT v.vec_id, c.cid,
               CAST(SUM((v.qvec[i.i] - c.cv[i.i]) * (v.qvec[i.i] - c.cv[i.i]))
                    AS BIGINT) AS dist
        FROM kq v CROSS JOIN {cent} c CROSS JOIN kdims i
        GROUP BY v.vec_id, c.cid
    ),
    a{tag} AS (
        SELECT vec_id, cid, dist FROM (
            SELECT vec_id, cid, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rn
            FROM d{tag}
        ) WHERE rn = 1
    )"""


#: Shared unrolled Lloyd schedule (init -> assign0 -> update -> assign1);
#: downstream oracles build on the final assignment ``a1``.
_KMEANS_CTES = f"""
    WITH kq AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(floor(x * {S.QUANT_SCALE}) AS BIGINT)) AS qvec
        FROM embeddings
    ),
    kdims AS (
        SELECT UNNEST(generate_series(1, (SELECT MAX(len(qvec)) FROM kq))) AS i
    ),
    c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
               qvec AS cv
        FROM (SELECT vec_id, qvec FROM kq ORDER BY vec_id LIMIT {C.KMEANS_K})
    ),
    {_kmeans_assign_cte("0", "c0")},
    c1dim AS (
        SELECT a.cid, i.i,
               CAST(FLOOR(CAST(SUM(v.qvec[i.i]) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS cv_i
        FROM a0 a JOIN kq v ON v.vec_id = a.vec_id CROSS JOIN kdims i
        GROUP BY a.cid, i.i
    ),
    c1 AS (SELECT cid, list(cv_i ORDER BY i) AS cv FROM c1dim GROUP BY cid),
    {_kmeans_assign_cte("1", "c1")}
"""


_SEMDEDUP_TAU2 = C.SEMDEDUP_MIN_COSINE * C.SEMDEDUP_MIN_COSINE

_SEMDEDUP_ORACLE = f"""
    {_KMEANS_CTES},
    kn AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(range(1, len(qvec) + 1),
                    i -> qvec[i] * qvec[i])) AS BIGINT) AS qnorm
        FROM kq
    ),
    sbase AS (
        SELECT a1.vec_id, a1.cid, a1.dist, kq.qvec, kn.qnorm
        FROM a1
        JOIN kq ON kq.vec_id = a1.vec_id
        JOIN kn ON kn.vec_id = a1.vec_id
    ),
    cand AS (
        SELECT x.vec_id AS vid,
               CAST(list_sum(list_transform(range(1, len(x.qvec) + 1),
                    i -> x.qvec[i] * y.qvec[i])) AS BIGINT) AS dot,
               x.qnorm AS nx, y.qnorm AS ny
        FROM sbase x JOIN sbase y
          ON y.cid = x.cid
         AND (y.dist < x.dist OR (y.dist = x.dist AND y.vec_id < x.vec_id))
    ),
    dropped AS (
        SELECT DISTINCT vid FROM cand
        WHERE dot > 0
          AND CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)
              >= {_SEMDEDUP_TAU2} * CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)
    )
    SELECT b.vec_id, b.cid AS cluster_id, b.dist
    FROM sbase b LEFT JOIN dropped d ON d.vid = b.vec_id
    WHERE d.vid IS NULL
    ORDER BY b.vec_id
    """


@register_extra(
    "semantic_dedup_retained",
    _SEMDEDUP_ORACLE,
    description="SemDeDup: greedy within-cluster semantic dedup over the "
    "k-means blocking — a vector drops iff a SAME-cluster vector with "
    "cosine ≥ 0.35 ranks before it (closer to the centroid, tie -> "
    "smaller id); non-recursive NMS-style order, so the oracle is one "
    "anti-join, no iterative closure. Candidate pairs are Σ|cluster|² "
    "(k bounds the block size as the corpus grows — the SemDeDup cost "
    "model), hash-partitioned on cluster_id; cosine via the shared "
    "quantized contract's sqrt-free squared cross-multiplication.",
    tags=("embedding", "clustering", "dedup", "curation"),
)
def semantic_dedup_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    return C.semantic_dedup_retained(t["embeddings"])


@register_extra(
    "doc_containment_pairs_prefix",
    # The oracle is the unfiltered containment join; the driver row
    # proves the prefix-filtered plan returns identical results.
    f"""
    WITH {GRAMS_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT cm.id_a, cm.id_b, sa.n AS n_a, sb.n AS n_b, cm.common,
           CAST(cm.common AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
    FROM common cm
    JOIN sizes sa ON sa.doc_id = cm.id_a
    JOIN sizes sb ON sb.doc_id = cm.id_b
    WHERE cm.common * 100 >= {CONTAINMENT_PCT} * LEAST(sa.n, sb.n)
    ORDER BY cm.id_a, cm.id_b
    """,
    description="doc_containment_pairs through the PPJoin-style prefix "
    "filter: each doc probes the inverted index with only its "
    "floor((1-c)·n)+1 LOWEST-document-frequency grams (any such subset of "
    "the smaller side must hit the intersection — exact, no false "
    "negatives), then a direct per-candidate verify join. The scale path "
    "for boilerplate-heavy corpora: brute common-counting grows with "
    "Σ df², the prefix probe rides the SHORT postings (hot grams never "
    "make a prefix) — measured 13x candidate reduction and brute 12.5s → "
    "prefix 7.5s on a 30%%-boilerplate sf0.1 corpus (SCALING.md). Same "
    "oracle as the exact form, by the prefix lemma.",
    tags=("dedup", "containment", "prefix-filter"),
)
def doc_containment_pairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    # hash(doc_id) persist (the minhash r17 discipline): the per-doc size
    # groupBy and the prefix-ranking window both consume the cache's
    # partitioning instead of re-exchanging the gram stream
    grams = D.shingles(t["documents"].repartition("doc_id"), spread=False).persist()
    return D.containment_pairs_prefix(grams, threshold_pct=CONTAINMENT_PCT).orderBy(
        "id_a", "id_b"
    )


def _fp_init_ctes(k: int) -> str:
    """Unrolled farthest-point seeding: fp0..fp{k-1} single-row CTEs, each
    the argmax of min-distance-to-chosen (tie -> min vec_id), then cf0 =
    the k seeds with cid = selection order. Pure integer math throughout
    -> bit-identical to the Spark sweep."""
    parts = [
        "fp0 AS (SELECT qvec AS cv FROM kq"
        " WHERE vec_id = (SELECT MIN(vec_id) FROM kq))"
    ]
    for j in range(1, k):
        dists = [
            f"CAST(list_sum(list_transform(range(1, len(kq.qvec) + 1),"
            f" ii -> (kq.qvec[ii] - fp{i}.cv[ii]) * (kq.qvec[ii] - fp{i}.cv[ii])))"
            " AS BIGINT)"
            for i in range(j)
        ]
        least = dists[0] if j == 1 else "LEAST(" + ", ".join(dists) + ")"
        froms = ", ".join(f"fp{i}" for i in range(j))
        parts.append(
            f"fp{j} AS (SELECT kq.qvec AS cv FROM kq, {froms}"
            f" ORDER BY {least} DESC, kq.vec_id ASC LIMIT 1)"
        )
    union = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS cid, cv FROM fp{i}" for i in range(k)
    )
    parts.append(f"cf0 AS ({union})")
    return ",\n    ".join(parts)


_KMEANS_FP_ORACLE = f"""
    WITH kq AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(floor(x * {S.QUANT_SCALE}) AS BIGINT)) AS qvec
        FROM embeddings
    ),
    kdims AS (
        SELECT UNNEST(generate_series(1, (SELECT MAX(len(qvec)) FROM kq))) AS i
    ),
    {_fp_init_ctes(C.KMEANS_K)},
    {_kmeans_assign_cte("f0", "cf0")},
    cf1dim AS (
        SELECT a.cid, i.i,
               CAST(FLOOR(CAST(SUM(v.qvec[i.i]) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS cv_i
        FROM af0 a JOIN kq v ON v.vec_id = a.vec_id CROSS JOIN kdims i
        GROUP BY a.cid, i.i
    ),
    cf1 AS (SELECT cid, list(cv_i ORDER BY i) AS cv FROM cf1dim GROUP BY cid),
    {_kmeans_assign_cte("f1", "cf1")}
    SELECT a.cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(a.dist) AS BIGINT) AS inertia,
           CAST(COUNT(DISTINCT v.label) AS BIGINT) AS n_labels,
           CAST(MIN(a.vec_id) AS BIGINT) AS min_vec_id
    FROM af1 a JOIN kq v ON v.vec_id = a.vec_id
    GROUP BY a.cid
    ORDER BY cluster_id
    """


@register_extra(
    "kmeans_farthest_profile",
    _KMEANS_FP_ORACLE,
    description="k-means with deterministic farthest-point (Gonzalez "
    "k-center) seeding — the quality-seeding variant of "
    "kmeans_cluster_profile: seeds spread across the data instead of "
    "clumping at the smallest ids, the deterministic stand-in for "
    "k-means++'s D² sampling. Each of the k-1 seeding steps is one "
    "scan-side min-distance expression + a global TakeOrdered top-1; the "
    "DuckDB oracle unrolls the full seed sweep AND the Lloyd schedule "
    "(k single-row CTEs -> assign -> floor-mean update -> assign), all "
    "integer-exact.",
    tags=("embedding", "clustering", "curation"),
)
def kmeans_farthest_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    assigned = C.kmeans_assign(emb, init="farthest")
    return (
        assigned.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("dist").alias("inertia"),
            F.count_distinct("label").alias("n_labels"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("cluster_id")
    )


def _budget_oracle() -> str:
    from retail_aws_etl_pipeline_spark.operators.sampling import (
        BUDGET_DEN,
        BUDGET_NUM,
        QUALITY_SCALE,
    )

    return f"""
    WITH tb_base AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                * {QUALITY_SCALE}) // len(string_split(text, ' ')) AS quality
        FROM documents
    ),
    tb_tot AS (SELECT SUM(n_tokens) AS t FROM tb_base),
    tb_cum AS (
        SELECT doc_id, n_tokens, quality,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS cum_tokens
        FROM tb_base
    )
    SELECT doc_id, n_tokens, quality, cum_tokens
    FROM tb_cum, tb_tot
    WHERE cum_tokens * {BUDGET_DEN} <= t * {BUDGET_NUM}
    ORDER BY doc_id
    """


@register_extra(
    "token_budget_selection",
    _budget_oracle(),
    description="Data selection under a token budget (the 'train on the "
    "best N tokens' greedy knapsack): docs ranked by an integer quality "
    "key (scaled lexical diversity — floor division, engine-exact) are "
    "kept while the running token total stays within 60% of the corpus. "
    "The global cumulative sum uses NO global window: range partitions + "
    "per-partition running sums + broadcast triangular prefix offsets — "
    "the distributed-rank discipline extended from ranks to sums. The "
    "oracle keeps DuckDB's native global-window cumsum, which the "
    "distributed form must reproduce bit-for-bit.",
    tags=("curation", "sampling", "window"),
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_aws_etl_pipeline_spark.operators.sampling import token_budget_select

    t = load_tables(spark, sf_dir, ["documents"])
    return token_budget_select(t["documents"]).orderBy("doc_id")


def _contrastive_oracle() -> str:
    mod = S.CONTRASTIVE_PROBE_MOD
    a, b = S.CONTRASTIVE_STRIDE_A, S.CONTRASTIVE_STRIDE_B
    return f"""
    WITH {_quant_cte()},
    cp AS (
        SELECT vec_id AS probe_id, qvec AS p_qvec, qnorm AS p_qnorm
        FROM n WHERE vec_id % {mod} = 0
    ),
    ctot AS (SELECT COUNT(*) AS cnt FROM n),
    scored AS (
        SELECT p.probe_id, c.vec_id,
               CAST(list_sum(list_transform(range(1, len(p.p_qvec) + 1),
                    i -> p.p_qvec[i] * c.qvec[i])) AS BIGINT) AS dot_q,
               p.p_qnorm, c.qnorm
        FROM cp p, n c
        WHERE c.vec_id != p.probe_id
    ),
    pos AS (
        SELECT probe_id, 'positive' AS role, vec_id AS other_id,
               dot_q / sqrt(CAST(p_qnorm * qnorm AS DOUBLE)) AS cosine
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY probe_id
                ORDER BY dot_q / sqrt(CAST(p_qnorm * qnorm AS DOUBLE)) DESC,
                         vec_id ASC) AS rk
            FROM scored
        ) WHERE rk = 1
    ),
    picked AS (
        SELECT p.probe_id, p.p_qvec, p.p_qnorm,
               (p.probe_id * {a} + j.j * {b}) % t.cnt AS other_id
        FROM cp p, (SELECT UNNEST(generate_series(1, {S.CONTRASTIVE_NEGATIVES})) AS j) j, ctot t
        WHERE (p.probe_id * {a} + j.j * {b}) % t.cnt != p.probe_id
    ),
    neg AS (
        SELECT k.probe_id, 'negative' AS role, c.vec_id AS other_id,
               CAST(list_sum(list_transform(range(1, len(k.p_qvec) + 1),
                    i -> k.p_qvec[i] * c.qvec[i])) AS BIGINT)
               / sqrt(CAST(k.p_qnorm * c.qnorm AS DOUBLE)) AS cosine
        FROM picked k JOIN n c ON c.vec_id = k.other_id
    )
    SELECT * FROM pos
    UNION ALL
    SELECT * FROM neg
    ORDER BY probe_id, role, other_id
    """


@register_extra(
    "contrastive_training_pairs",
    _contrastive_oracle(),
    description="Training-pair construction for contrastive / embedding "
    "fine-tuning: each probe (every 50th id) pairs with its EXACT nearest "
    "neighbor as the positive (broadcast-probe GEMM on the quantized "
    "contract, rank-1 window) and with deterministic hash-strided ids as "
    "negatives ((probe·A + j·B) mod N — the reproducible form of random "
    "in-corpus negatives; probe-collisions drop rather than re-roll). "
    "Cosines ride every row for loss weighting. No all-pairs stage: "
    "positives cost |probes|·N GEMM rows, negatives are an equi-join.",
    tags=("embedding", "similarity", "curation", "training"),
)
def contrastive_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    return S.contrastive_pairs(t["embeddings"]).orderBy("probe_id", "role", "other_id")


@register_extra(
    "corpus_snapshot_diff",
    """
    WITH new_snap AS (SELECT doc_id, md5(text) AS h FROM documents),
    old_snap AS (
        -- reconstructed prior snapshot: docs with id % 11 = 0 hadn't
        -- arrived yet ("added" now), ids % 7 = 0 carried different text
        -- ("changed"), and a deterministic extra slice has since been
        -- deleted ("removed")
        SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0
                                THEN text || ' OLD' ELSE text END) AS h
        FROM documents WHERE doc_id % 11 <> 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, md5(text) AS h
        FROM documents WHERE doc_id % 13 = 0
    )
    SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN n.h <> o.h THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(COALESCE(n.doc_id, o.doc_id)) AS BIGINT) AS min_doc_id,
           CAST(MAX(COALESCE(n.doc_id, o.doc_id)) AS BIGINT) AS max_doc_id
    FROM new_snap n FULL OUTER JOIN old_snap o ON o.doc_id = n.doc_id
    GROUP BY 1
    ORDER BY status
    """,
    description="Corpus snapshot diff — the audit every incremental "
    "corpus-maintenance job runs between versions: FULL OUTER join on "
    "doc identity + content-hash compare classifies added / removed / "
    "changed / unchanged, aggregated to per-status counts. The prior "
    "snapshot is reconstructed deterministically from the current table "
    "so the oracle is self-contained. One shuffle-on-id join (at scale "
    "both snapshots are id-bucketed, making it co-located); md5 compare "
    "keeps the changed-detection content-exact.",
    tags=("curation", "join", "audit"),
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    new_snap = docs.select("doc_id", F.md5("text").alias("h"))
    old_main = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" OLD")))
            .otherwise(F.col("text"))
        ).alias("h"),
    )
    old_extra = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), F.md5("text").alias("h")
    )
    old_snap = old_main.unionByName(old_extra)
    n, o = new_snap.alias("n"), old_snap.alias("o")
    joined = n.join(o, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    status = (
        F.when(F.col("o.doc_id").isNull(), F.lit("added"))
        .when(F.col("n.doc_id").isNull(), F.lit("removed"))
        .when(F.col("n.h") != F.col("o.h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    the_id = F.coalesce(F.col("n.doc_id"), F.col("o.doc_id"))
    return (
        joined.select(status.alias("status"), the_id.alias("__id"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("__id").alias("min_doc_id"),
            F.max("__id").alias("max_doc_id"),
        )
        .orderBy("status")
    )


_COLLOC_MIN_PAIR = 5

_COLLOC_ORACLE = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    uni AS (
        SELECT t.tok, COUNT(*) AS n_tok
        FROM (SELECT UNNEST(toks) AS tok FROM toks) t
        WHERE t.tok <> ''
        GROUP BY t.tok
    ),
    tot AS (SELECT SUM(n_tok) AS n FROM uni),
    pairs AS (
        SELECT toks[i.i] AS tok_a, toks[i.i + 1] AS tok_b, COUNT(*) AS n_pair
        FROM toks, UNNEST(generate_series(1, len(toks) - 1)) AS i(i)
        WHERE toks[i.i] <> '' AND toks[i.i + 1] <> ''
        GROUP BY 1, 2
    )
    SELECT p.tok_a, p.tok_b,
           CAST(p.n_pair AS BIGINT) AS n_pair,
           CAST(a.n_tok AS BIGINT) AS n_a,
           CAST(b.n_tok AS BIGINT) AS n_b
    FROM pairs p
    JOIN uni a ON a.tok = p.tok_a
    JOIN uni b ON b.tok = p.tok_b
    CROSS JOIN tot
    WHERE p.n_pair >= {_COLLOC_MIN_PAIR}
    ORDER BY CAST(p.n_pair AS DOUBLE) * tot.n / (a.n_tok * b.n_tok) DESC,
             p.tok_a ASC, p.tok_b ASC
    LIMIT 100
    """


@register_extra(
    "collocation_pairs",
    _COLLOC_ORACLE,
    description="Collocation / phrase mining (the AutoPhrase step 1): "
    "adjacent token pairs ranked by lift = P(ab) / (P(a)·P(b)), i.e. "
    "n_pair·N / (n_a·n_b). Integer counts carry the evidence; the lift "
    "appears only as a sort key (one IEEE double expression — identical "
    "rounding in both engines — with token tiebreaks), so results stay "
    "hash-exact. Composes the bpe_pair_stats pair aggregation with the "
    "corpus_vocabulary unigram counts through broadcast joins (the "
    "unigram table is vocabulary-bounded) + a 1-row total; min-support "
    "n_pair ≥ 5 prunes the noise tail before ranking.",
    tags=("text", "curation", "phrases"),
)
def collocation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].withColumn("__toks", F.split("text", " "))
    uni = (
        docs.select(F.explode("__toks").alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    tot = uni.agg(F.sum("n_tok").alias("n"))
    # size guard: sequence(1, 0) is DESCENDING [1, 0], so the greatest()
    # idiom still indexes element 2 of a 1-element array on a
    # single-token document (latent until the r10 BPE fuzz hit the same
    # pattern in the trainer).
    pairs_arr = (
        "CASE WHEN size(__toks) >= 2 THEN"
        " transform(sequence(1, size(__toks) - 1),"
        " i -> struct(element_at(__toks, i) AS tok_a,"
        " element_at(__toks, i + 1) AS tok_b))"
        " ELSE array() END"
    )
    pairs = (
        docs.select(F.explode(F.expr(pairs_arr)).alias("p"))
        .select("p.tok_a", "p.tok_b")
        .filter((F.col("tok_a") != "") & (F.col("tok_b") != ""))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= _COLLOC_MIN_PAIR)
    )
    scored = (
        pairs.join(
            F.broadcast(uni.select(F.col("tok").alias("tok_a"), F.col("n_tok").alias("n_a"))),
            "tok_a",
        )
        .join(
            F.broadcast(uni.select(F.col("tok").alias("tok_b"), F.col("n_tok").alias("n_b"))),
            "tok_b",
        )
        .crossJoin(F.broadcast(tot))
    )
    lift = (
        F.col("n_pair").cast("double")
        * F.col("n")
        / (F.col("n_a") * F.col("n_b"))
    )
    return (
        scored.orderBy(lift.desc(), F.asc("tok_a"), F.asc("tok_b"))
        .limit(100)
        .select("tok_a", "tok_b", "n_pair", "n_a", "n_b")
    )


def _pagerank_oracle() -> str:
    """Unrolled 2-iteration integer PageRank over the Jaccard ≥ 0.2 graph."""
    damp_n, damp_d, scale = D.PR_DAMP_NUM, D.PR_DAMP_DEN, D.PR_SCALE
    teleport = f"(({damp_d - damp_n} * {scale}) // {damp_d})"

    def it(prev: str, out: str) -> str:
        return f"""
    contrib_{out} AS (
        SELECT e.dst, SUM(r.rank // d.deg) AS in_sum
        FROM pr_edges e
        JOIN pr_deg d ON d.src = e.src
        JOIN {prev} r ON r.node = e.src
        GROUP BY e.dst
    ),
    {out} AS (
        SELECT r.node,
               {teleport} + ({damp_n} * COALESCE(c.in_sum, 0)) // {damp_d} AS rank
        FROM {prev} r LEFT JOIN contrib_{out} c ON c.dst = r.node
    )"""

    return f"""
    WITH {GRAMS_CTE},
    pr_sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    pr_pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pr_qual AS (
        SELECT p.id_a, p.id_b FROM pr_pairs p
        JOIN pr_sizes sa ON sa.doc_id = p.id_a
        JOIN pr_sizes sb ON sb.doc_id = p.id_b
        WHERE p.common * 5 >= (sa.n + sb.n - p.common)
    ),
    pr_edges AS (
        SELECT id_a AS src, id_b AS dst FROM pr_qual
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pr_qual
    ),
    pr_deg AS (SELECT src, COUNT(*) AS deg FROM pr_edges GROUP BY src),
    r0 AS (SELECT doc_id AS node, CAST({scale} AS BIGINT) AS rank FROM documents),
    {it("r0", "r1")},
    {it("r1", "r2")}
    SELECT node AS doc_id, CAST(rank AS BIGINT) AS rank_scaled
    FROM r2
    ORDER BY doc_id
    """


@register_extra(
    "doc_pagerank",
    _pagerank_oracle(),
    description="Iterative graph centrality: 2-round PageRank over the "
    "near-dup similarity graph (Jaccard ≥ 0.2 pairs as undirected "
    "edges) — which documents sit at the center of duplication families, "
    "the weighting signal cluster-size alone misses. Every quantity is "
    "scaled-integer with floor division (teleport (15·10^6) div 100, "
    "damped in-sum (85·Σ r div deg) div 100) so the fixed-iteration "
    "result is engine-bit-identical and the oracle unrolls the same "
    "schedule. Message-passing shape: per round one join + one "
    "groupBy(dst); isolated docs keep the teleport term.",
    tags=("graph", "dedup", "curation"),
)
def doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    grams = D.shingles(docs).persist()
    counts = D.jaccard_counts(grams)
    edges = counts.filter(
        F.col("common") * 5 >= (F.col("n_a") + F.col("n_b") - F.col("common"))
    ).select("id_a", "id_b")
    return D.pagerank_scaled(edges, docs.select("doc_id"), iterations=2).orderBy(
        "doc_id"
    )


@register_extra(
    "corpus_card",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
           CAST(MAX_BY(doc_id, n_chars * 100000000 + doc_id) AS BIGINT) AS longest_doc_id
    FROM documents
    """,
    description="The corpus card: the one-row observability dashboard a "
    "curation pipeline publishes with every snapshot — doc/token/char "
    "volume, char-length envelope, language and source diversity, exact-"
    "dup headroom (distinct text hashes vs docs), and the longest doc's "
    "id (deterministic max_by on an integer composite key). One scan, one "
    "job (the three COUNT DISTINCTs go through Catalyst's expand "
    "rewrite); every metric integer-exact. At 100 TB this is the cheap "
    "always-on audit, vs the per-operator deep dives.",
    tags=("curation", "audit", "agg"),
)
def corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return t["documents"].agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct(F.md5("text")).alias("n_distinct_texts"),
        F.max_by(
            "doc_id", F.col("n_chars") * F.lit(100000000) + F.col("doc_id")
        ).alias("longest_doc_id"),
    )


_TFIDF_TOP_K = 3
_TFIDF_SCALE = 1_000_000

_TFIDF_ORACLE = f"""
    WITH tf AS (
        SELECT doc_id, t.tok AS term, COUNT(*) AS tf
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents) t
        WHERE t.tok <> ''
        GROUP BY doc_id, t.tok
    ),
    df_t AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    nd AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, d.df,
               tf.tf * ((nd.n * {_TFIDF_SCALE}) // d.df) AS score
        FROM tf JOIN df_t d ON d.term = tf.term CROSS JOIN nd
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           CAST(score AS BIGINT) AS score
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
        FROM scored
    ) WHERE rk <= {_TFIDF_TOP_K}
    ORDER BY doc_id, score DESC, term
    """


@register_extra(
    "tfidf_top_terms",
    _TFIDF_ORACLE,
    description="Per-document keyword extraction: top-3 terms by integer "
    "tf·idf, idf as the rational (N·10^6) div df (floor division — "
    "engine-exact, the same trick bm25's idf uses, no log/float in the "
    "evidence). The document-frequency model is vocabulary-bounded so it "
    "joins back by broadcast; per-doc ranking is a doc-partitioned "
    "window the planner turns into WindowGroupLimit (rank filter pushed "
    "below the sort) — asserted in the plan gates.",
    tags=("text", "relevance", "curation"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    from retail_aws_etl_pipeline_spark.session import spread_for_compute

    # doc-keyed spread (r17): parallel explode + exchange-free (doc, term)
    # aggregate (hash(doc_id) satisfies the clustered distribution)
    tf = (
        spread_for_compute(docs.select("doc_id", "text"), keys=["doc_id"])
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "score",
            F.col("tf") * F.expr(f"(n * {_TFIDF_SCALE}) div df"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "score")
        .orderBy("doc_id", F.desc("score"), "term")
    )


_DRIFT_TOP_K = 50

_DRIFT_ORACLE = f"""
    WITH halves AS (
        SELECT doc_id, doc_id % 2 AS half,
               UNNEST(list_distinct(string_split(text, ' '))) AS term
        FROM documents
    ),
    df_h AS (
        SELECT term,
               COUNT(*) FILTER (WHERE half = 0) AS df_a,
               COUNT(*) FILTER (WHERE half = 1) AS df_b
        FROM halves WHERE term <> ''
        GROUP BY term
    ),
    nh AS (
        SELECT COUNT(*) FILTER (WHERE doc_id % 2 = 0) AS n_a,
               COUNT(*) FILTER (WHERE doc_id % 2 = 1) AS n_b
        FROM documents
    )
    SELECT term, CAST(df_a AS BIGINT) AS df_a, CAST(df_b AS BIGINT) AS df_b
    FROM df_h CROSS JOIN nh
    ORDER BY GREATEST(
                 CAST((df_a + 1) * (n_b + 1) AS DOUBLE) / ((df_b + 1) * (n_a + 1)),
                 CAST((df_b + 1) * (n_a + 1) AS DOUBLE) / ((df_a + 1) * (n_b + 1))
             ) DESC,
             term ASC
    LIMIT {_DRIFT_TOP_K}
    """


@register_extra(
    "term_drift_report",
    _DRIFT_ORACLE,
    description="Distribution-shift audit between two corpus slices "
    "(deterministic doc_id-parity halves standing in for consecutive "
    "snapshots): per-term document frequency in each half, ranked by the "
    "larger of the two add-one-smoothed cross ratios — the terms whose "
    "prevalence moved most, the early-warning signal for source drift "
    "before it shifts a trained model. Integer df evidence; the ratio "
    "appears only in the sort key (IEEE-identical in both engines, term "
    "tiebreak). One scan-side distinct-term explode, one "
    "map-side-combined conditional groupBy, a 1-row broadcast of the "
    "half sizes, TakeOrderedAndProject top-50.",
    tags=("text", "audit", "curation"),
)
def term_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    halves = (
        docs.select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    df_h = halves.groupBy("term").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("df_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("df_b"),
    )
    nh = docs.agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0)).alias("n_b"),
    )
    ratio_ab = (
        ((F.col("df_a") + 1) * (F.col("n_b") + 1)).cast("double")
        / ((F.col("df_b") + 1) * (F.col("n_a") + 1))
    )
    ratio_ba = (
        ((F.col("df_b") + 1) * (F.col("n_a") + 1)).cast("double")
        / ((F.col("df_a") + 1) * (F.col("n_b") + 1))
    )
    return (
        df_h.crossJoin(F.broadcast(nh))
        .orderBy(F.greatest(ratio_ab, ratio_ba).desc(), F.asc("term"))
        .limit(_DRIFT_TOP_K)
        .select("term", "df_a", "df_b")
    )


@register_extra(
    "embedding_coverage_audit",
    """
    SELECT CAST(SUM(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_missing_embedding,
           CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphan_embeddings,
           CAST(MIN(CASE WHEN e.vec_id IS NULL THEN d.doc_id END) AS BIGINT)
               AS first_missing_doc_id
    FROM documents d FULL OUTER JOIN embeddings e ON e.vec_id = d.doc_id
    """,
    description="Referential integrity between the text corpus and its "
    "embedding table (vec_id keys doc_id): matched rows, docs whose "
    "embedding is missing (stale index — must re-embed), and orphan "
    "embeddings (deleted docs — must vacuum the index), plus the first "
    "missing id for triage. The audit every retrieval/semantic-dedup "
    "pipeline runs before trusting its index; one id-keyed full outer "
    "join collapsed to a single row.",
    tags=("embedding", "audit", "join"),
)
def embedding_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents", "embeddings"])
    d = t["documents"].select("doc_id").alias("d")
    e = t["embeddings"].select("vec_id").alias("e")
    j = d.join(e, F.col("e.vec_id") == F.col("d.doc_id"), "full_outer")
    return j.agg(
        F.sum(
            F.when(
                F.col("d.doc_id").isNotNull() & F.col("e.vec_id").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_matched"),
        F.sum(F.when(F.col("e.vec_id").isNull(), 1).otherwise(0)).alias(
            "n_docs_missing_embedding"
        ),
        F.sum(F.when(F.col("d.doc_id").isNull(), 1).otherwise(0)).alias(
            "n_orphan_embeddings"
        ),
        F.min(F.when(F.col("e.vec_id").isNull(), F.col("d.doc_id"))).alias(
            "first_missing_doc_id"
        ),
    )


@register_extra(
    "deletion_cascade_audit",
    """
    WITH del AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
    kept_docs AS (
        SELECT d.* FROM documents d LEFT JOIN del ON del.doc_id = d.doc_id
        WHERE del.doc_id IS NULL
    ),
    kept_vecs AS (
        SELECT e.* FROM embeddings e LEFT JOIN del ON del.doc_id = e.vec_id
        WHERE del.doc_id IS NULL
    )
    SELECT CAST((SELECT COUNT(*) FROM del) AS BIGINT) AS n_requested,
           CAST((SELECT COUNT(*) FROM kept_docs) AS BIGINT) AS n_docs_kept,
           CAST((SELECT COUNT(*) FROM kept_vecs) AS BIGINT) AS n_vecs_kept,
           CAST((SELECT COUNT(*) FROM kept_docs k JOIN del ON del.doc_id = k.doc_id)
                AS BIGINT) AS n_leaked_docs,
           CAST((SELECT COUNT(*) FROM kept_vecs k JOIN del ON del.doc_id = k.vec_id)
                AS BIGINT) AS n_leaked_vecs
    """,
    description="Targeted-deletion (right-to-be-forgotten) cascade audit: "
    "a deterministic deletion list anti-joins out of BOTH the text "
    "corpus and its embedding index in one pass each, and the audit row "
    "proves completeness — leak counts (deleted ids still present "
    "post-cascade) must be zero, kept counts reconcile against the "
    "request size. At scale each cascade is one broadcast anti-join per "
    "table (the deletion list is small by nature); the same shape "
    "extends to every derived table keyed by doc identity.",
    tags=("curation", "audit", "compliance"),
)
def deletion_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents", "embeddings"])
    docs, vecs = t["documents"], t["embeddings"]
    delete = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id")
    kept_docs = docs.join(F.broadcast(delete), "doc_id", "left_anti")
    kept_vecs = vecs.join(
        F.broadcast(delete.withColumnRenamed("doc_id", "vec_id")), "vec_id", "left_anti"
    )
    leaked_docs = kept_docs.join(F.broadcast(delete), "doc_id", "left_semi")
    leaked_vecs = kept_vecs.join(
        F.broadcast(delete.withColumnRenamed("doc_id", "vec_id")), "vec_id", "left_semi"
    )
    counts = [
        delete.agg(F.count(F.lit(1)).alias("n_requested")),
        kept_docs.agg(F.count(F.lit(1)).alias("n_docs_kept")),
        kept_vecs.agg(F.count(F.lit(1)).alias("n_vecs_kept")),
        leaked_docs.agg(F.count(F.lit(1)).alias("n_leaked_docs")),
        leaked_vecs.agg(F.count(F.lit(1)).alias("n_leaked_vecs")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(F.broadcast(c))
    return out


@register_extra(
    "normalized_dedup_gain",
    """
    WITH norm AS (
        SELECT doc_id, text,
               lower(trim(regexp_replace(
                   regexp_replace(text, '[\\x00-\\x1f\\x7f\\x{{85}}\\x{{a0}}\\x{{1680}}\\x{{2000}}-\\x{{200a}}\\x{{2028}}\\x{{2029}}\\x{{202f}}\\x{{205f}}\\x{{3000}}]', ' ', 'g'),
                   ' +', ' ', 'g'))) AS ntext
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_raw,
           CAST(COUNT(DISTINCT md5(ntext)) AS BIGINT) AS n_distinct_normalized
    FROM norm
    """,
    description="Normalization-induced dedup gain: distinct text hashes "
    "before vs after canonical normalization (control-char strip, "
    "whitespace collapse, trim, casefold) — the audit that quantifies "
    "how many 'distinct' documents were really byte-trivial variants. "
    "The normalizer is shared scan-side Column algebra "
    "(textops.normalize_text) with RE2/Java-portable patterns, so the "
    "oracle applies the identical program; idempotence is "
    "property-tested separately.",
    tags=("text", "curation", "audit"),
)
def normalized_dedup_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_aws_etl_pipeline_spark.operators.textops import normalize_text

    t = load_tables(spark, sf_dir, ["documents"])
    norm = t["documents"].withColumn("ntext", normalize_text("text"))
    return norm.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.md5("text")).alias("n_distinct_raw"),
        F.count_distinct(F.md5("ntext")).alias("n_distinct_normalized"),
    )


def _curation_funnel_oracle() -> str:
    from retail_aws_etl_pipeline_spark.operators.sampling import (
        BUDGET_DEN,
        BUDGET_NUM,
        QUALITY_SCALE,
    )

    return f"""
    WITH RECURSIVE cf_norm AS (
        SELECT doc_id,
               lower(trim(regexp_replace(
                   regexp_replace(text, '[\\x00-\\x1f\\x7f\\x{{85}}\\x{{a0}}\\x{{1680}}\\x{{2000}}-\\x{{200a}}\\x{{2028}}\\x{{2029}}\\x{{202f}}\\x{{205f}}\\x{{3000}}]', ' ', 'g'),
                   ' +', ' ', 'g'))) AS ntext
        FROM documents
    ),
    cf_kept1 AS (SELECT MIN(doc_id) AS doc_id FROM cf_norm GROUP BY md5(ntext)),
    cf_k1 AS (
        SELECT n.doc_id, n.ntext FROM cf_norm n JOIN cf_kept1 k ON k.doc_id = n.doc_id
    ),
    cf_toks AS (SELECT doc_id, string_split(ntext, ' ') AS toks FROM cf_k1),
    cf_grams AS (
        SELECT DISTINCT doc_id, array_to_string(toks[i.i:i.i + 2], ' ') AS gram
        FROM cf_toks, UNNEST(generate_series(1, len(toks) - 2)) AS i(i)
    ),
    cf_sizes AS (SELECT doc_id, COUNT(*) AS n FROM cf_grams GROUP BY doc_id),
    cf_common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM cf_grams a JOIN cf_grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    cf_prs AS (
        SELECT cm.id_a, cm.id_b FROM cf_common cm
        JOIN cf_sizes sa ON sa.doc_id = cm.id_a
        JOIN cf_sizes sb ON sb.doc_id = cm.id_b
        WHERE cm.common * 5 >= (sa.n + sb.n - cm.common)
    ),
    cf_edges AS (
        SELECT id_a AS a, id_b AS b FROM cf_prs
        UNION ALL SELECT id_b, id_a FROM cf_prs
    ),
    cf_reach(src, dst) AS (
        SELECT doc_id, doc_id FROM cf_k1
        UNION
        SELECT r.src, e.b FROM cf_reach r JOIN cf_edges e ON r.dst = e.a
    ),
    cf_comp AS (SELECT src AS doc_id, MIN(dst) AS label FROM cf_reach GROUP BY src),
    cf_k2 AS (
        SELECT k.doc_id, k.ntext FROM cf_k1 k
        JOIN cf_comp c ON c.doc_id = k.doc_id AND c.label = k.doc_id
    ),
    cf_base3 AS (
        SELECT doc_id,
               CAST(len(string_split(ntext, ' ')) AS BIGINT) AS n_tokens,
               (CAST(len(list_distinct(string_split(ntext, ' '))) AS BIGINT)
                * {QUALITY_SCALE}) // len(string_split(ntext, ' ')) AS quality
        FROM cf_k2
    ),
    cf_tot AS (SELECT SUM(n_tokens) AS t FROM cf_base3),
    cf_cum AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC) AS cum
        FROM cf_base3
    ),
    cf_k3 AS (
        SELECT doc_id, n_tokens FROM cf_cum, cf_tot
        WHERE cum * {BUDGET_DEN} <= t * {BUDGET_NUM}
    )
    SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_raw,
           CAST((SELECT COUNT(*) FROM cf_k1) AS BIGINT) AS n_after_exact,
           CAST((SELECT COUNT(*) FROM cf_k2) AS BIGINT) AS n_after_neardup,
           CAST((SELECT COUNT(*) FROM cf_k3) AS BIGINT) AS n_after_budget,
           CAST((SELECT COALESCE(SUM(n_tokens), 0) FROM cf_k3) AS BIGINT)
               AS tokens_final
    """


@register_extra(
    "curation_funnel_report",
    _curation_funnel_oracle(),
    description="The END-TO-END curation pipeline as one chained plan — "
    "normalize (casefold/whitespace/control) -> exact dedup on the "
    "normalized hash (keep min id) -> near-dup connected components over "
    "3-gram Jaccard ≥ 0.2 (keep the component label) -> token-budget "
    "quality selection (60%) — with the stage-by-stage funnel counts a "
    "curation run reports. Every stage is the already-proven operator "
    "(normalize_text, exact groupBy, shingles/jaccard/ "
    "connected_components, token_budget_select) COMPOSED, and the oracle "
    "chains the same stages through one recursive-CTE SQL program: the "
    "strongest end-to-end correctness statement the engine makes.",
    tags=("curation", "dedup", "pipeline"),
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_aws_etl_pipeline_spark.operators.sampling import token_budget_select
    from retail_aws_etl_pipeline_spark.operators.textops import normalize_text

    from retail_aws_etl_pipeline_spark.session import spread_for_compute

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    norm = docs.select("doc_id", normalize_text("text").alias("ntext"))
    kept1_ids = norm.groupBy(F.md5("ntext")).agg(F.min("doc_id").alias("doc_id"))
    # spread BEFORE the persist so the cached survivor frame is already
    # wide for every consumer (shingles, the CC node list, the budget
    # pass and the counts) — shingles' own deficit spread would otherwise
    # re-exchange the cache on each materialization (r16)
    k1 = spread_for_compute(
        norm.join(kept1_ids.select("doc_id"), "doc_id"), keys=["doc_id"]
    ).persist()
    grams = D.shingles(k1, text_col="ntext", spread=False).persist()
    pairs = D.jaccard_counts(grams).filter(
        F.col("common") * 5 >= (F.col("n_a") + F.col("n_b") - F.col("common"))
    ).select("id_a", "id_b")
    comp = D.connected_components(pairs, k1.select("doc_id"))
    k2 = k1.join(
        comp.filter(F.col("node") == F.col("label")).select(
            F.col("node").alias("doc_id")
        ),
        "doc_id",
    ).persist()
    k3 = token_budget_select(k2, text_col="ntext")
    counts = [
        docs.agg(F.count(F.lit(1)).alias("n_raw")),
        k1.agg(F.count(F.lit(1)).alias("n_after_exact")),
        k2.agg(F.count(F.lit(1)).alias("n_after_neardup")),
        k3.agg(
            F.count(F.lit(1)).alias("n_after_budget"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("tokens_final"),
        ),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(F.broadcast(c))
    return out


_TRIANGLE_ORACLE = f"""
    WITH {GRAMS_CTE},
    tc_sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    tc_pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    tc_qual AS (
        SELECT p.id_a, p.id_b FROM tc_pairs p
        JOIN tc_sizes sa ON sa.doc_id = p.id_a
        JOIN tc_sizes sb ON sb.doc_id = p.id_b
        WHERE p.common * 5 >= (sa.n + sb.n - p.common)
    ),
    tc_deg AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT id_a AS node FROM tc_qual
            UNION ALL SELECT id_b AS node FROM tc_qual
        ) GROUP BY node
    ),
    tc_or AS (
        SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND q.id_a < q.id_b)
                    THEN q.id_a ELSE q.id_b END AS src,
               CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND q.id_a < q.id_b)
                    THEN q.id_b ELSE q.id_a END AS dst,
               CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND q.id_a < q.id_b)
                    THEN db.deg ELSE da.deg END AS deg_dst
        FROM tc_qual q
        JOIN tc_deg da ON da.node = q.id_a
        JOIN tc_deg db ON db.node = q.id_b
    ),
    tc_tri AS (
        SELECT COUNT(*) AS t
        FROM tc_or e1 JOIN tc_or e2 ON e1.src = e2.src
             AND (e1.deg_dst < e2.deg_dst
                  OR (e1.deg_dst = e2.deg_dst AND e1.dst < e2.dst))
        WHERE EXISTS (SELECT 1 FROM tc_or c WHERE c.src = e1.dst AND c.dst = e2.dst)
    ),
    tc_base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(COALESCE(SUM(deg * (deg - 1) // 2), 0) AS BIGINT) AS n_wedges
        FROM tc_deg
    ),
    tc_edges AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM tc_qual)
    SELECT b.n_nodes, e.n_edges, b.n_wedges, CAST(t.t AS BIGINT) AS n_triangles,
           CAST(CASE WHEN b.n_wedges = 0 THEN 0
                     ELSE (3 * t.t * 1000000) // b.n_wedges END AS BIGINT) AS gcc_ppm
    FROM tc_base b, tc_edges e, tc_tri t
"""


@register_extra(
    "graph_triangle_census",
    _TRIANGLE_ORACLE,
    description="Triangle census of the near-dup similarity graph (same "
    "Jaccard >= 0.2 edge set as doc_pagerank): node/edge/wedge/triangle "
    "counts and the global clustering coefficient in floor-divided ppm "
    "(3T*10^6 div sum C(deg,2)) — the one-row structural audit that "
    "separates chain-like duplication (scraped mirrors, gcc near 0) "
    "from clique-like duplication (template families, gcc near 10^6), "
    "which determines whether transitive dedup clustering over- or "
    "under-merges. Degree-ordered orientation (compact-forward) bounds "
    "wedge work at O(m^1.5) regardless of hub vertices — the raw "
    "adjacency self-join is quadratic in a hub's degree; the closing "
    "check is one semi-join on the oriented edge key. All counts "
    "integer-exact, so the oracle runs the identical orientation.",
    tags=("graph", "dedup", "audit"),
)
def graph_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    grams = D.shingles(t["documents"]).persist()
    counts = D.jaccard_counts(grams)
    edges = counts.filter(
        F.col("common") * 5 >= (F.col("n_a") + F.col("n_b") - F.col("common"))
    ).select("id_a", "id_b")
    return D.triangle_census(edges)


_CTFIDF_TOP_K = 3
_CTFIDF_SCALE = 1_000_000

_CTFIDF_ORACLE = f"""
    {_KMEANS_CTES},
    ct_toks AS (
        SELECT a.cid, t.tok AS term
        FROM a1 a
        JOIN (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
              FROM documents) t ON t.doc_id = a.vec_id
        WHERE t.tok <> ''
    ),
    ct_tf AS (SELECT cid, term, COUNT(*) AS ctf FROM ct_toks GROUP BY cid, term),
    ct_df AS (SELECT term, COUNT(*) AS cdf FROM ct_tf GROUP BY term),
    ct_n AS (SELECT COUNT(DISTINCT cid) AS nc FROM ct_tf),
    ct_scored AS (
        SELECT tf.cid, tf.term, tf.ctf, d.cdf,
               tf.ctf * ((n.nc * {_CTFIDF_SCALE}) // d.cdf) AS score
        FROM ct_tf tf JOIN ct_df d ON d.term = tf.term CROSS JOIN ct_n n
    ),
    ct_ranked AS (
        SELECT cid, term, ctf, cdf, score,
               ROW_NUMBER() OVER (PARTITION BY cid
                                  ORDER BY score DESC, term ASC) AS rk
        FROM ct_scored
    )
    SELECT CAST(cid AS BIGINT) AS cluster_id, term,
           CAST(ctf AS BIGINT) AS ctf, CAST(cdf AS BIGINT) AS cdf,
           CAST(score AS BIGINT) AS score_scaled, CAST(rk AS BIGINT) AS rank
    FROM ct_ranked WHERE rk <= {_CTFIDF_TOP_K}
    ORDER BY cluster_id, rank
"""


@register_extra(
    "cluster_topic_terms",
    _CTFIDF_ORACLE,
    description="Cluster labeling via class-based TF-IDF (the BERTopic "
    "step): k-means assigns every embedding to a topic block, documents "
    "join in on doc_id = vec_id, and each cluster's top-3 terms rank by "
    "ctf * rational-idf — term count within the cluster times "
    "(n_clusters * 10^6) div clusters-containing-term, all integer so "
    "the oracle unrolls the identical Lloyd schedule AND the identical "
    "scoring. The composition is the point: clustering (scan-side "
    "assignment), a doc join (co-partitioned by id), two keyed "
    "aggregates (term x cluster, then term), a broadcast of the "
    "one-row cluster count, and a per-cluster top-k the planner turns "
    "into WindowGroupLimit — every stage keyed and bounded at corpus "
    "scale.",
    tags=("embedding", "clustering", "text", "curation"),
)
def cluster_topic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ["documents", "embeddings"])
    assigned = C.kmeans_assign(t["embeddings"]).select("vec_id", "cluster_id")
    toks = (
        t["documents"]
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    ctf = (
        assigned.join(toks, assigned.vec_id == toks.doc_id)
        .groupBy("cluster_id", "term")
        .agg(F.count(F.lit(1)).alias("ctf"))
    )
    cdf = ctf.groupBy("term").agg(F.count(F.lit(1)).alias("cdf"))
    nc = ctf.agg(F.count_distinct("cluster_id").alias("nc"))
    scored = (
        ctf.join(cdf, "term")
        .crossJoin(F.broadcast(nc))
        .withColumn(
            "score_scaled",
            F.expr(f"ctf * ((nc * {_CTFIDF_SCALE}) div cdf)"),
        )
    )
    w = W.partitionBy("cluster_id").orderBy(F.desc("score_scaled"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _CTFIDF_TOP_K)
        .select("cluster_id", "term", "ctf", "cdf", "score_scaled", "rank")
        .orderBy("cluster_id", "rank")
    )


def _oov_oracle() -> str:
    from retail_aws_etl_pipeline_spark.operators import sampling as SMP

    nib = lambda i: f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"  # noqa: E731
    bucket = (
        f"({nib(1)} * 4096 + {nib(2)} * 256 + {nib(3)} * 16 + {nib(4)})"
        f" % {SMP.SPLIT_BUCKETS}"
    )
    return f"""
    WITH ov_split AS (
        SELECT doc_id, text,
               CASE WHEN b < {SMP.TRAIN_BUCKETS} THEN 'train'
                    WHEN b < {SMP.TRAIN_BUCKETS + SMP.VALID_BUCKETS} THEN 'valid'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id, text, {bucket} AS b
              FROM (SELECT doc_id, text,
                           md5(CAST(doc_id AS VARCHAR)) AS h FROM documents))
    ),
    ov_toks AS (
        SELECT split, t.tok AS term
        FROM (SELECT split, UNNEST(string_split(text, ' ')) AS tok
              FROM ov_split) t
        WHERE t.tok <> ''
    ),
    ov_vocab AS (SELECT DISTINCT term FROM ov_toks WHERE split = 'train')
    SELECT e.split,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(COUNT(DISTINCT CASE WHEN v.term IS NULL THEN e.term END)
                AS BIGINT) AS n_oov_types,
           CAST((SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1000000)
                // COUNT(*) AS BIGINT) AS oov_ppm
    FROM ov_toks e LEFT JOIN ov_vocab v ON v.term = e.term
    WHERE e.split <> 'train'
    GROUP BY e.split
    ORDER BY e.split
    """


@register_extra(
    "oov_rate_by_split",
    _oov_oracle(),
    description="Out-of-vocabulary audit across the md5-bucket "
    "train/valid/test split: token and type OOV counts (plus a "
    "floor-divided ppm rate) of the held-out splits against the "
    "TRAIN-ONLY vocabulary — the tokenizer-coverage / split-health check "
    "a training pipeline runs before freezing a vocab (a valid split "
    "whose OOV rate diverges from test flags a skewed split hash). "
    "Composes the deterministic split assignment with a distinct-on-train "
    "vocabulary and one left join keyed on term; the vocabulary join is "
    "the only wide exchange, and the split column rides the scan.",
    tags=("sampling", "text", "audit", "curation"),
)
def oov_rate_by_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_aws_etl_pipeline_spark.operators import sampling as SMP

    t = load_tables(spark, sf_dir, ["documents"])
    split = SMP.with_split_assignment(t["documents"]).select("doc_id", "text", "split")
    toks = split.select(
        "split", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    vocab = toks.filter(F.col("split") == "train").select("term").distinct()
    held = toks.filter(F.col("split") != "train")
    return (
        held.join(vocab.withColumn("__in_vocab", F.lit(1)), "term", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("__in_vocab").isNull()).cast("long")).alias("n_oov"),
            F.count_distinct(
                F.when(F.col("__in_vocab").isNull(), F.col("term"))
            ).alias("n_oov_types"),
            F.expr("(sum(CASE WHEN __in_vocab IS NULL THEN 1 ELSE 0 END) * 1000000)"
                   " div count(*)").alias("oov_ppm"),
        )
        .orderBy("split")
    )


@register_extra(
    "exif_orientation_probe",
    """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           CAST(1 + doc_id % 8 AS INT) AS orientation,
           CAST(16 + doc_id % 100 AS INT) AS width,
           CAST(9 + (doc_id * 7) % 100 AS INT) AS height
    FROM documents ORDER BY media_id
    """,
    description="Lib-free EXIF metadata probe: JPEG marker walk to the "
    "APP1/Exif segment, then a TIFF IFD0 entry scan honoring the "
    "DECLARED byte order — payloads alternate II (little) and MM (big) "
    "by id parity, so both endianness branches are driver-proven, the "
    "structural case none of the other header probes exercise. Extracts "
    "orientation + TIFF dims; truncation raises (family contract), "
    "absence misses cleanly. O(header) bytes per payload, Arrow-batched "
    "mapInPandas — the same 100 TB shape as media_dims_probe; the "
    "oracle recomputes every field from the id formula without seeing "
    "payload bytes.",
    tags=("multimodal", "pandas_udf", "metadata"),
)
def exif_orientation_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_aws_etl_pipeline_spark.operators import multimodal as MM

    ids = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id")
    return MM.probe_exif_meta(MM.synth_exif_media(ids, "doc_id")).orderBy("media_id")


_LSH_RECALL_ORACLE = f"""
    WITH {GRAMS_CTE}, {SIGS_CTE},
    lr_sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    lr_truth AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    lr_qual AS (
        SELECT p.id_a, p.id_b,
               CAST((p.common * 10) // (sa.n + sb.n - p.common) AS BIGINT)
                   AS jaccard_decile
        FROM lr_truth p
        JOIN lr_sizes sa ON sa.doc_id = p.id_a
        JOIN lr_sizes sb ON sb.doc_id = p.id_b
        WHERE p.common * 5 >= (sa.n + sb.n - p.common)
    ),
    lr_cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT q.jaccard_decile,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_caught,
           CAST((SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
                // COUNT(*) AS BIGINT) AS recall_ppm
    FROM lr_qual q
    LEFT JOIN lr_cand c ON c.id_a = q.id_a AND c.id_b = q.id_b
    GROUP BY q.jaccard_decile
    ORDER BY q.jaccard_decile
"""


@register_extra(
    "lsh_dedup_recall",
    _LSH_RECALL_ORACLE,
    description="LSH banding quality audit: every TRUE near-dup pair "
    "(exact Jaccard >= 0.2 from the inverted index) checked against the "
    "banded MinHash candidate set, recall reported per integer Jaccard "
    "decile — the measurement that tunes (bands, rows-per-band) before "
    "trusting LSH at corpus scale, where the exact join is only "
    "affordable on a sample. The S-curve is the point: recall should "
    "climb toward 10^6 ppm in high deciles and may sag near the "
    "threshold decile; a sag ABOVE decile 3 means the banding scheme "
    "needs more bands. Dedup-side twin of ann_lsh_recall; all counts "
    "integer, floor-divided ppm.",
    tags=("dedup", "lsh", "audit"),
)
def lsh_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    grams = D.shingles(t["documents"]).persist()
    counts = D.jaccard_counts(grams)
    truth = counts.filter(
        F.col("common") * 5 >= (F.col("n_a") + F.col("n_b") - F.col("common"))
    ).select(
        "id_a",
        "id_b",
        F.expr("CAST((common * 10) DIV (n_a + n_b - common) AS BIGINT)").alias(
            "jaccard_decile"
        ),
    )
    cand = D.candidate_pairs(D.lsh_bands(grams)).withColumn("__hit", F.lit(1))
    return (
        truth.join(cand, ["id_a", "id_b"], "left")
        .groupBy("jaccard_decile")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_caught"),
            F.expr(
                "(sum(coalesce(__hit, 0)) * 1000000) div count(*)"
            ).alias("recall_ppm"),
        )
        .orderBy("jaccard_decile")
    )


def _bitext_ivf_oracle(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return None
    cents = S.ivf_centroids_from_parquet(path, sample_mod=IVF_SAMPLE_MOD)
    d_exprs = ", ".join(
        "CAST(list_sum(list_transform(range(1, len(qvec) + 1), "
        f"i -> (qvec[i] - c{c}[i]) * (qvec[i] - c{c}[i]))) AS BIGINT) AS d{c}"
        for c in range(len(cents))
    )
    cent_literals = ", ".join(
        f"[{', '.join(str(x) for x in cent)}] AS c{c}" for c, cent in enumerate(cents)
    )
    least = ", ".join(f"d{c}" for c in range(len(cents)))
    cell_case = " ".join(f"WHEN d{c} = m THEN {c}" for c in range(len(cents)))
    struct_list = ", ".join(f"{{'d': d{c}, 'c': {c}}}" for c in range(len(cents)))
    return f"""
    WITH {_quant_cte()},
    bi_sides AS (
        SELECT n.vec_id AS id, n.qvec, n.qnorm AS qn, d.lang
        FROM n JOIN documents d ON d.doc_id = n.vec_id
    ),
    bi_da AS (
        SELECT id, qvec, qn, {d_exprs}
        FROM (SELECT * FROM bi_sides WHERE lang = 'en'), (SELECT {cent_literals}) cents
    ),
    bi_a AS (
        SELECT id, qvec, qn, CAST(t.cell AS BIGINT) AS cell
        FROM (
            SELECT id, qvec, qn,
                   list_transform(list_slice(list_sort([{struct_list}]), 1, {IVF_NPROBE}), s -> s.c) AS pcells
            FROM bi_da
        ), UNNEST(pcells) AS t(cell)
    ),
    bi_db AS (
        SELECT id, qvec, qn, {d_exprs}
        FROM (SELECT * FROM bi_sides WHERE lang = 'de'), (SELECT {cent_literals}) cents
    ),
    bi_b AS (
        SELECT id, qvec, qn, CAST(CASE {cell_case} END AS BIGINT) AS cell
        FROM (SELECT *, LEAST({least}) AS m FROM bi_db)
    ),
    bi_sc AS (
        SELECT a.id AS id_a, b.id AS id_b, a.qn AS a_qn, b.qn AS b_qn,
               CAST(list_sum(list_transform(range(1, len(a.qvec) + 1),
                    i -> a.qvec[i] * b.qvec[i])) AS BIGINT) AS dot_q
        FROM bi_a a JOIN bi_b b ON a.cell = b.cell
    ),
    bi_cos AS (
        SELECT *, dot_q / sqrt(CAST(a_qn * b_qn AS DOUBLE)) AS cosine FROM bi_sc
    ),
    bi_fwd AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY id_a ORDER BY cosine DESC, id_b ASC) AS fr
        FROM bi_cos
    ),
    bi_bwd AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY id_b ORDER BY cosine DESC, id_a ASC) AS br
        FROM bi_cos
    ),
    bi_f2 AS (SELECT id_a, dot_q AS f2_dot, b_qn AS f2_qn FROM bi_fwd WHERE fr = 2),
    bi_b2 AS (SELECT id_b, dot_q AS b2_dot, a_qn AS b2_qn FROM bi_bwd WHERE br = 2),
    bi_m AS (
        SELECT f.id_a, f.id_b, f.dot_q, f.a_qn, f.b_qn,
               f2.f2_dot, f2.f2_qn, b2.b2_dot, b2.b2_qn
        FROM (SELECT id_a, id_b, dot_q, a_qn, b_qn FROM bi_fwd WHERE fr = 1) f
        JOIN (SELECT id_a, id_b FROM bi_bwd WHERE br = 1) bk
          ON bk.id_a = f.id_a AND bk.id_b = f.id_b
        LEFT JOIN bi_f2 f2 ON f2.id_a = f.id_a
        LEFT JOIN bi_b2 b2 ON b2.id_b = f.id_b
    )
    SELECT id_a, id_b, dot_q,
           ((CASE WHEN f2_dot IS NULL OR f2_dot <= 0 THEN TRUE
                  ELSE (dot_q * dot_q) // {S.MARGIN_SQ_SCALE} * f2_qn * {S.MARGIN_DEN**2}
                       >= (f2_dot * f2_dot) // {S.MARGIN_SQ_SCALE} * b_qn * {S.MARGIN_NUM**2}
             END)
            AND (CASE WHEN b2_dot IS NULL OR b2_dot <= 0 THEN TRUE
                      ELSE (dot_q * dot_q) // {S.MARGIN_SQ_SCALE} * b2_qn * {S.MARGIN_DEN**2}
                           >= (b2_dot * b2_dot) // {S.MARGIN_SQ_SCALE} * a_qn * {S.MARGIN_NUM**2}
                 END)
            AND dot_q > 0) AS margin_ok
    FROM bi_m ORDER BY id_a
    """


@register_extra(
    "bitext_margin_pairs_ivf",
    _bitext_ivf_oracle(),
    description="bitext_margin_pairs through the IVF coarse quantizer — "
    "the SCALE PATH for cross-lingual mining made first-class: both "
    "sides assign to the shared deterministic integer centroid set "
    "(scan-side argmin), candidates are the cell equi-join of A's "
    "nprobe probed cells against B's single home cell, and mutuality + "
    "both margin tests evaluate within that candidate set (the standard "
    "IVF approximation; nprobe = n_cells recovers the brute operator "
    "exactly — pinned by test). Candidate volume per probe is "
    "|B|/n_cells*nprobe instead of |B|, the difference between a "
    "quadratic cross join and a keyed equi-join at corpus scale. The "
    "oracle unrolls the identical centroid literals, cell assignment, "
    "and margin schedule.",
    tags=("embeddings", "similarity", "ivf", "curation"),
)
def bitext_margin_pairs_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    t = load_tables(spark, sf_dir, ["documents", "embeddings"])
    cents = S.ivf_centroids_from_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), sample_mod=IVF_SAMPLE_MOD
    )
    emb = S.with_quantized(t["embeddings"])
    langd = t["documents"].select("doc_id", "lang")
    sided = emb.join(langd, emb.vec_id == langd.doc_id).select(
        F.col("vec_id").alias("id"), "qvec", "qnorm", "lang"
    )
    a = sided.filter(F.col("lang") == "en").select("id", "qvec", "qnorm")
    b = sided.filter(F.col("lang") == "de").select("id", "qvec", "qnorm")
    return S.margin_mutual_pairs_ivf(a, b, cents, nprobe=IVF_NPROBE).orderBy("id_a")


#: Late-interaction (MaxSim) parameters: deterministic 8-dim integer token
#: vectors derived from md5(word:dim) — the same hash-to-weight family as
#: the LSH planes — and two fixed multi-term queries.
MAXSIM_DIM = 8
MAXSIM_QUERIES = {"q_dedup": ("dup", "docs", "join"), "q_stream": ("stream", "window", "state")}
MAXSIM_TOP_K = 10


def _tokvec_exprs_spark(word_col: str) -> list:
    """MAXSIM_DIM deterministic int components for a word column:
    int(md5(word || ':' || d)[:8], 16) % 2001 - 1000, scan-side."""
    return [
        (
            F.conv(F.substring(F.md5(F.concat(F.col(word_col), F.lit(f":{d}"))), 1, 8), 16, 10)
            .cast("long")
            % 2001
            - 1000
        ).alias(f"v{d}")
        for d in range(MAXSIM_DIM)
    ]


def _tokvec_sql(word_expr: str, d: int) -> str:
    """DuckDB twin of _tokvec_exprs_spark: 8 hex nibbles -> int."""
    h = f"md5({word_expr} || ':{d}')"
    nibs = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"(({nibs}) % 2001 - 1000)"


def _maxsim_oracle() -> str:
    dims = range(MAXSIM_DIM)
    doc_vecs = ", ".join(f"{_tokvec_sql('word', d)} AS v{d}" for d in dims)
    qrows = ", ".join(
        f"('{q}', '{t}')" for q, terms in sorted(MAXSIM_QUERIES.items()) for t in terms
    )
    qvecs = ", ".join(f"{_tokvec_sql('term', d)} AS qv{d}" for d in dims)
    dot = " + ".join(f"w.v{d} * t.qv{d}" for d in dims)
    wnorm = " + ".join(f"w.v{d} * w.v{d}" for d in dims)
    qnorm = " + ".join(f"t.qv{d} * t.qv{d}" for d in dims)
    all_terms = sorted({t for terms in MAXSIM_QUERIES.values() for t in terms})
    piv_cols = ", ".join(
        f"MAX(CASE WHEN term = '{t}' THEN mc END) AS m_{t}" for t in all_terms
    )
    score_case = " ".join(
        f"WHEN query = '{q}' THEN " + " + ".join(f"(m_{t})" for t in sorted(terms))
        for q, terms in sorted(MAXSIM_QUERIES.items())
    )
    return f"""
    WITH ms_words AS (
        SELECT DISTINCT doc_id, t.tok AS word
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents) t
        WHERE t.tok <> ''
    ),
    ms_wv AS (SELECT doc_id, word, {doc_vecs} FROM ms_words),
    ms_q AS (SELECT query, term, {qvecs} FROM (VALUES {qrows}) q(query, term)),
    ms_cos AS (
        SELECT t.query, t.term, w.doc_id,
               ({dot}) / sqrt(CAST(({wnorm}) AS DOUBLE) * ({qnorm})) AS c
        FROM ms_q t CROSS JOIN ms_wv w
    ),
    ms_max AS (
        SELECT query, term, doc_id, MAX(c) AS mc
        FROM ms_cos GROUP BY query, term, doc_id
    ),
    ms_piv AS (
        SELECT query, doc_id, {piv_cols}
        FROM ms_max GROUP BY query, doc_id
    ),
    ms_score AS (
        SELECT query, doc_id, CASE {score_case} END AS score FROM ms_piv
    ),
    ms_rank AS (
        SELECT query, doc_id, score,
               ROW_NUMBER() OVER (PARTITION BY query
                                  ORDER BY score DESC, doc_id ASC) AS rank
        FROM ms_score
    )
    SELECT query, doc_id, score, CAST(rank AS BIGINT) AS rank
    FROM ms_rank WHERE rank <= {MAXSIM_TOP_K}
    ORDER BY query, rank
    """


@register_extra(
    "late_interaction_topk",
    _maxsim_oracle(),
    description="Late-interaction retrieval (ColBERT MaxSim): score(q, d) "
    "= sum over query terms of the MAX cosine between the term vector "
    "and any word vector of the doc — the multi-vector ranking model "
    "between bag-of-words BM25 and single-vector ANN. Token vectors are "
    "deterministic 8-dim integers from md5(word:dim) (the LSH-plane "
    "hash family), so both engines derive identical vectors from raw "
    "text with no model weights. Shape: per-word cosines to all (few, "
    "literal) query terms are scan-side expressions; ONE groupBy(doc) "
    "computes every per-term max as an aggregate column "
    "(map-side-combined); per-query scores add those columns in fixed "
    "sorted-term order (float addition order pinned on both sides); "
    "ranking is a per-query WindowGroupLimit. One shuffle total, "
    "independent of query count until the term set grows.",
    tags=("text", "similarity", "retrieval"),
)
def late_interaction_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    from functools import reduce

    from pyspark.sql import Window as W

    from retail_aws_etl_pipeline_spark.session import spread_for_compute

    t = load_tables(spark, sf_dir, ["documents"])
    # doc-keyed spread (r17): the word explode + distinct otherwise run
    # fused into a near-single-task scan, and hash(doc_id) satisfies the
    # (doc_id, word) distinct AND the per-doc max aggregate downstream —
    # both become exchange-free single-phase aggregates
    words = (
        spread_for_compute(t["documents"].select("doc_id", "text"), keys=["doc_id"])
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    wv = words.select("doc_id", *_tokvec_exprs_spark("word"))
    wnorm = " + ".join(f"v{d} * v{d}" for d in range(MAXSIM_DIM))

    def tvec(term: str) -> list[int]:
        return [
            int(hashlib.md5(f"{term}:{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000
            for d in range(MAXSIM_DIM)
        ]

    aggs = []
    for _q, terms in sorted(MAXSIM_QUERIES.items()):
        for term in sorted(terms):
            tv = tvec(term)
            qn = sum(x * x for x in tv)
            dot = " + ".join(f"v{d} * ({tv[d]})" for d in range(MAXSIM_DIM))
            cos = F.expr(f"({dot}) / sqrt(CAST(({wnorm}) AS DOUBLE) * ({qn}))")
            aggs.append(F.max(cos).alias(f"m_{term}"))
    per_doc = wv.groupBy("doc_id").agg(*aggs)
    frames = []
    for q, terms in sorted(MAXSIM_QUERIES.items()):
        # left-associated sum in sorted-term order — same float addition
        # order as the oracle's pivot expression
        score = reduce(lambda a, b: a + b, [F.col(f"m_{t}") for t in sorted(terms)])
        frames.append(
            per_doc.select(F.lit(q).alias("query"), "doc_id", score.alias("score"))
        )
    scored = reduce(lambda a, b: a.unionByName(b), frames)
    w = W.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= MAXSIM_TOP_K)
        .select("query", "doc_id", "score", "rank")
        .orderBy("query", "rank")
    )


#: RAG chunker: windows of W tokens advancing by STRIDE (overlap W-STRIDE).
RAG_CHUNK_W = 64
RAG_CHUNK_STRIDE = 48

_RAG_ORACLE = f"""
    WITH rg_toks AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    rg_idx AS (
        SELECT doc_id, toks, n,
               UNNEST(generate_series(0,
                   CASE WHEN n <= {RAG_CHUNK_W} THEN 0
                        ELSE (n - {RAG_CHUNK_W} + {RAG_CHUNK_STRIDE} - 1)
                             // {RAG_CHUNK_STRIDE} END)) AS chunk_idx
        FROM rg_toks
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * {RAG_CHUNK_STRIDE} AS BIGINT) AS start_tok,
           CAST(LEAST({RAG_CHUNK_W}, n - chunk_idx * {RAG_CHUNK_STRIDE})
                AS BIGINT) AS n_tokens,
           md5(array_to_string(
               toks[chunk_idx * {RAG_CHUNK_STRIDE} + 1 :
                    chunk_idx * {RAG_CHUNK_STRIDE} +
                    LEAST({RAG_CHUNK_W}, n - chunk_idx * {RAG_CHUNK_STRIDE})],
               ' ')) AS chunk_hash
    FROM rg_idx
    ORDER BY doc_id, chunk_idx
"""


@register_extra(
    "rag_chunk_spans",
    _RAG_ORACLE,
    description="RAG document chunking: overlapping token windows of "
    "W=64 advancing by stride 48 (16-token overlap so retrieval never "
    "loses a sentence to a boundary) — the chunk table every "
    "retrieval-augmented pipeline materializes before embedding. "
    "Emits (doc_id, chunk_idx, start_tok, n_tokens, chunk_hash); the "
    "md5 chunk hash stands in for chunk text so the result stays "
    "compact while proving the exact token slice on both engines. "
    "Pure scan-side: tokenize once, explode a computed chunk-count "
    "sequence, slice — no shuffle at any corpus size except the "
    "presentation sort. Chunk count is 1 for docs within one window, "
    "else 1 + ceil((n-W)/stride), so every token lands in >=1 chunk "
    "and trailing partials are kept (integer formula shared with the "
    "oracle).",
    tags=("text", "retrieval", "curation"),
)
def rag_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    w, s = RAG_CHUNK_W, RAG_CHUNK_STRIDE
    toks = t["documents"].select(
        "doc_id", F.split("text", " ").alias("toks")
    ).withColumn("n", F.size("toks"))
    n_chunks = F.expr(
        f"CASE WHEN n <= {w} THEN 0 ELSE (n - {w} + {s} - 1) div {s} END"
    )
    idx = toks.withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks))
    )
    start = F.col("chunk_idx") * s
    length = F.least(F.lit(w), F.col("n") - start)
    return (
        idx.select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            start.cast("long").alias("start_tok"),
            length.cast("long").alias("n_tokens"),
            F.md5(
                F.concat_ws(" ", F.slice(F.col("toks"), start + 1, length))
            ).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def _graph_profile_oracle() -> str:
    damp_n, damp_d, scale = D.PR_DAMP_NUM, D.PR_DAMP_DEN, D.PR_SCALE
    teleport = f"(({damp_d - damp_n} * {scale}) // {damp_d})"

    def it(prev: str, out: str) -> str:
        return f"""
    gp_contrib_{out} AS (
        SELECT e.dst, SUM(r.rank // d.deg) AS in_sum
        FROM gp_sym e
        JOIN gp_deg d ON d.src = e.src
        JOIN gp_{prev} r ON r.node = e.src
        GROUP BY e.dst
    ),
    gp_{out} AS (
        SELECT r.node,
               {teleport} + ({damp_n} * COALESCE(c.in_sum, 0)) // {damp_d} AS rank
        FROM gp_{prev} r LEFT JOIN gp_contrib_{out} c ON c.dst = r.node
    )"""

    return f"""
    WITH RECURSIVE {GRAMS_CTE},
    gp_sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    gp_pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    gp_qual AS (
        SELECT p.id_a, p.id_b FROM gp_pairs p
        JOIN gp_sizes sa ON sa.doc_id = p.id_a
        JOIN gp_sizes sb ON sb.doc_id = p.id_b
        WHERE p.common * 5 >= (sa.n + sb.n - p.common)
    ),
    gp_sym AS (
        SELECT id_a AS src, id_b AS dst FROM gp_qual
        UNION ALL SELECT id_b, id_a FROM gp_qual
    ),
    gp_deg AS (SELECT src, COUNT(*) AS deg FROM gp_sym GROUP BY src),
    gp_reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM gp_reach r JOIN gp_sym e ON r.dst = e.src
    ),
    gp_comp AS (SELECT src AS doc_id, MIN(dst) AS label FROM gp_reach GROUP BY src),
    gp_r0 AS (SELECT doc_id AS node, CAST({scale} AS BIGINT) AS rank FROM documents),
    {it("r0", "r1")},
    {it("r1", "r2")}
    SELECT c.doc_id, CAST(c.label AS BIGINT) AS label,
           CAST(r.rank AS BIGINT) AS rank_scaled
    FROM gp_comp c JOIN gp_r2 r ON r.node = c.doc_id
    ORDER BY c.doc_id
    """


@register_extra(
    "dedup_graph_profile",
    _graph_profile_oracle(),
    description="The graph composition lever made real: connected "
    "components AND 2-round integer PageRank computed off ONE built "
    "edge set (the Jaccard >= 0.2 gram self-join both operators — and "
    "the triangle census — would otherwise each pay; at the measured "
    "second decade that exchange is 2.2-2.4 GB per query, so fusing is "
    "the production shape). Emits per doc its duplication-family label "
    "and its centrality within that family — the two columns a dedup "
    "policy needs together (which family, which member to keep). The "
    "edge frame is persisted once; each algorithm runs its proven "
    "message-passing form; the oracle chains the recursive closure and "
    "the unrolled rank schedule over the same edge CTE.",
    tags=("graph", "dedup", "curation"),
)
def dedup_graph_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    grams = D.shingles(docs).persist()
    counts = D.jaccard_counts(grams)
    edges = (
        counts.filter(
            F.col("common") * 5 >= (F.col("n_a") + F.col("n_b") - F.col("common"))
        )
        .select("id_a", "id_b")
        .persist()
    )
    nodes = docs.select("doc_id")
    comp = D.connected_components(edges, nodes)
    pr = D.pagerank_scaled(edges, nodes, iterations=2)
    return (
        comp.select(F.col("node").alias("doc_id"), "label")
        .join(pr, "doc_id")
        .select("doc_id", "label", F.col("rank_scaled"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Round-7 additions: k-core graph profile, time-decayed revenue
# ---------------------------------------------------------------------------

KCORE_ROUNDS = 6
KCORE_KS = (2, 3)


def _kcore_chain_sql(k: int, rounds: int) -> str:
    """Unrolled fixed-round peel for one k — mirrors kcore_peel exactly."""
    # Every kc_e{r} is referenced three times by round r+1 (degree branch
    # + both endpoint joins): an inlining planner re-executes the whole
    # prefix 3^rounds times (DuckDB ran out of file handles re-scanning
    # the base parquet) — AS MATERIALIZED pins each round to one
    # evaluation, the oracle-side mirror of the Spark loop's per-round
    # lineage truncation.
    parts = [f"kc{k}_e0 AS MATERIALIZED (SELECT id_a, id_b FROM kc_qual)"]
    for r in range(1, rounds + 1):
        prev = f"kc{k}_e{r - 1}"
        parts.append(
            f"""kc{k}_d{r} AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT id_a AS node FROM {prev}
            UNION ALL SELECT id_b AS node FROM {prev}
        ) GROUP BY node
    ),
    kc{k}_k{r} AS (SELECT node FROM kc{k}_d{r} WHERE deg >= {k}),
    kc{k}_e{r} AS MATERIALIZED (
        SELECT e.id_a, e.id_b FROM {prev} e
        JOIN kc{k}_k{r} a ON a.node = e.id_a
        JOIN kc{k}_k{r} b ON b.node = e.id_b
    )"""
        )
    last = f"kc{k}_e{rounds}"
    parts.append(
        f"""kc{k}_fd AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT id_a AS node FROM {last}
            UNION ALL SELECT id_b AS node FROM {last}
        ) GROUP BY node
    ),
    kc{k}_row AS (
        SELECT CAST({k} AS BIGINT) AS k,
               CAST((SELECT COUNT(*) FROM kc{k}_fd) AS BIGINT) AS n_nodes,
               CAST((SELECT COUNT(*) FROM {last}) AS BIGINT) AS n_edges,
               CAST((SELECT COALESCE(SUM(CASE WHEN deg < {k} THEN 1 ELSE 0 END), 0)
                     FROM kc{k}_fd) AS BIGINT) AS n_under_k
    )"""
    )
    return ",\n    ".join(parts)


_KCORE_ORACLE = f"""
    WITH {GRAMS_CTE},
    kc_sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    kc_pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    kc_qual AS (
        SELECT p.id_a, p.id_b FROM kc_pairs p
        JOIN kc_sizes sa ON sa.doc_id = p.id_a
        JOIN kc_sizes sb ON sb.doc_id = p.id_b
        WHERE p.common * 5 >= (sa.n + sb.n - p.common)
    ),
    {_kcore_chain_sql(2, KCORE_ROUNDS)},
    {_kcore_chain_sql(3, KCORE_ROUNDS)}
    SELECT * FROM kc2_row UNION ALL SELECT * FROM kc3_row ORDER BY k
"""


@register(
    "graph_kcore_profile",
    _KCORE_ORACLE,
    description="k-core decomposition profile of the near-dup similarity "
    "graph (same Jaccard >= 0.2 edge set as doc_pagerank / the triangle "
    "census): for k in (2, 3), peel nodes of degree < k for a FIXED "
    "round count and report surviving node/edge counts plus n_under_k "
    "(0 = converged, the result is exactly the k-core). The 2-core "
    "separates tree-like duplication chains from cyclic template "
    "families; the 3-core isolates the densely mirrored clusters worth "
    "manual review. Fixed rounds keep the schedule oracle-unrollable "
    "and make depth an explicit knob instead of an unbounded driver "
    "loop; per round the work is one degree groupBy + two endpoint "
    "semi-joins over a shrinking edge list, all keyed.",
    tags=("graph", "dedup", "audit"),
)
def graph_kcore_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    grams = D.shingles(t["documents"]).persist()
    counts = D.jaccard_counts(grams)
    edges = (
        counts.filter(
            F.col("common") * 5 >= (F.col("n_a") + F.col("n_b") - F.col("common"))
        )
        .select("id_a", "id_b")
        .persist()
    )
    out = None
    for k in KCORE_KS:
        row = D.kcore_peel(edges, k, rounds=KCORE_ROUNDS)
        out = row if out is None else out.unionByName(row)
    return out.orderBy("k")


#: Decay contract for time-weighted aggregates: weight halves every
#: DECAY_HALFLIFE_WEEKS, implemented as an integer right-shift of cents
#: (shift = age_weeks div halflife, capped so the shift stays in-range) —
#: no float pow/exp crosses an engine boundary.
DECAY_HALFLIFE_WEEKS = 4
DECAY_MAX_SHIFT = 40


@register(
    "decayed_revenue_by_segment",
    f"""
    WITH base AS (
        SELECT c.c_mktsegment AS segment,
               CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents,
               CAST((SELECT MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP))) FROM orders)
                    - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) AS BIGINT)
               // 604800000000 AS age_weeks
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           CAST(SUM(cents >> CAST(LEAST(age_weeks // {DECAY_HALFLIFE_WEEKS},
                                        {DECAY_MAX_SHIFT}) AS INTEGER)) AS BIGINT)
               AS decayed_cents
    FROM base
    GROUP BY segment
    ORDER BY segment
    """,
    description="Half-life-decayed revenue by market segment — the "
    "recency-weighted feature aggregation behind churn/LTV features: "
    "each order's cents contribute shifted right by (age_weeks div "
    "halflife), i.e. weight 2^-floor(age/halflife), so recent demand "
    "dominates without a cutoff cliff. Decay is an INTEGER right-shift "
    "(halving per halflife) on exact cents with integer microsecond "
    "ages — no float pow/exp anywhere, so the engines agree to the "
    "cent. Plan: broadcast 1-row max-date, broadcast customer dim join, "
    "one segment groupBy — scan-shaped, map-side combinable.",
    tags=("agg", "join", "retail"),
)
def decayed_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    mx = t["orders"].agg(F.max(F.unix_micros(F.col("o_orderdate"))).alias("max_us"))
    base = (
        t["orders"]
        .join(F.broadcast(t["customer"].select("c_custkey", "c_mktsegment")),
              F.col("o_custkey") == F.col("c_custkey"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
            F.expr("(max_us - unix_micros(o_orderdate)) div 604800000000").alias("age_weeks"),
        )
    )
    dcents = F.expr(
        f"shiftright(cents, CAST(least(age_weeks div {DECAY_HALFLIFE_WEEKS},"
        f" {DECAY_MAX_SHIFT}) AS INT))"
    )
    return (
        base.select("segment", "cents", dcents.alias("dcents"))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.sum("dcents").cast("long").alias("decayed_cents"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Edit-distance near-dup pairs (length-bucket blocking + levenshtein verify)
# ---------------------------------------------------------------------------

#: Max edit distance for a near-dup pair; also the length-bucket width. The
#: blocking is EXACT at this pairing: levenshtein(a,b) >= |len(a)-len(b)|,
#: so any pair within distance T has length difference <= T and therefore
#: lands in the same or adjacent T-wide length buckets.
EDIT_DIST_MAX = 25


@register(
    "edit_distance_near_pairs_lsh",
    f"""
    WITH {GRAMS_CTE}, {SIGS_CTE},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    )
    SELECT c.id_a AS doc_a, c.id_b AS doc_b,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance
    FROM cand c
    JOIN documents da ON da.doc_id = c.id_a
    JOIN documents db ON db.doc_id = c.id_b
    WHERE abs(length(da.text) - length(db.text)) <= {EDIT_DIST_MAX}
      AND levenshtein(da.text, db.text) <= {EDIT_DIST_MAX}
    ORDER BY doc_a, doc_b
    """,
    description="The PRODUCTION-scale edit-distance path under the driver "
    "hash gate (VERDICT r7 item #3): MinHash-banded candidate generation "
    "(the standing shingle → signature → band bucket join, so candidate "
    "volume tracks true near-dup density instead of the length-density "
    "quadratic the exact form pays) + length prune + thresholded JVM "
    "levenshtein verify. The oracle recomputes the SAME banding from the "
    "shared seed/band constants in SQL and verifies with DuckDB's "
    "levenshtein — i.e. it checks the declared semantics of this plan "
    "(candidates ∘ verify), which is deterministic and hash-matchable at "
    "any recall, not an exact-all-pairs claim. Recall vs the exact form "
    "stays a MEASURED property: lsh_dedup_recall audits the banding "
    "S-curve per Jaccard decile each window, and SCALING.md records "
    "99.6%/3.7% natural/adversarial recall with 43.9s at K=100 (500k "
    "docs) where the exact form's within-bucket quadratic measured 70x "
    "wall for 10x docs. Scale: banded equi-join + thresholded DP only on "
    "collided pairs — no all-pairs stage anywhere.",
    tags=("dedup", "lsh", "text"),
)
def edit_distance_near_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return D.edit_distance_pairs_lsh(t["documents"], EDIT_DIST_MAX).orderBy(
        "doc_a", "doc_b"
    )


# ---------------------------------------------------------------------------
# JSONL corpus source under the driver hash gate (VERDICT r7 item #6)
# ---------------------------------------------------------------------------

#: Deterministic corpus-wire fault injection: every doc whose id hits the
#: first modulus ships as a TRUNCATED line (invalid JSON); every id hitting
#: the second ships without its required text field. Primes, so the fault
#: classes interleave across the id space instead of aliasing.
JSONL_CORRUPT_MOD = 97
JSONL_DROPFIELD_MOD = 89


@register(
    "jsonl_corpus_stats",
    f"""
    WITH cls AS (
        SELECT doc_id, text, lang,
               CASE WHEN doc_id % {JSONL_CORRUPT_MOD} = 0 THEN 'malformed_json'
                    WHEN doc_id % {JSONL_DROPFIELD_MOD} = 0 OR text IS NULL
                         THEN 'missing_required_field'
                    ELSE 'good' END AS cls
        FROM documents
    )
    SELECT 'lang' AS kind, COALESCE(lang, '__null') AS key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars
    FROM cls WHERE cls = 'good' GROUP BY 2
    UNION ALL
    SELECT 'reject' AS kind, cls AS key,
           CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS sum_chars
    FROM cls WHERE cls <> 'good' GROUP BY 2
    ORDER BY kind, key
    """,
    description="The JSONL corpus source's REAL parse path under the driver "
    "hash gate (VERDICT r7 item #6): the documents table is serialized to "
    "JSON lines with to_json — with the wire n_chars deliberately emitted "
    "as a STRING (the untrusted-metadata tolerance the r7 advisory fix "
    "guarantees, proven on every row here) — then deterministic wire "
    "faults are injected by id (truncated line -> malformed JSON; text "
    "field dropped -> required-field reject), and the lines run through "
    "classify_jsonl_lines — the package's ONE-PASS JSONL parse+audit "
    "kernel. Output: per-lang good-doc counts with recomputed char "
    "totals, plus reject-class counts, from a SINGLE keyed aggregate "
    "over the classified frame — the good/reject union-of-aggregates "
    "form measured 3 FileScans of the source (one per audit branch), "
    "the re-scan pattern the kernel exists to avoid at 100 TB; this "
    "plan is gated at exactly one scan. The oracle never parses JSON: "
    "it derives the expected classes from the id formulas (the "
    "synth_exif_media pattern), so the hash gate checks the PARSER. "
    "Scale: serialize/parse/aggregate is one narrow pass + one keyed "
    "aggregate; no driver-side collection.",
    tags=("source", "jsonl", "audit"),
)
def jsonl_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_aws_etl_pipeline_spark.sources.jsonl import classify_jsonl_lines

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    lines = docs.withColumn(
        "payload",
        F.to_json(
            F.struct(
                F.col("doc_id"),
                F.col("text"),
                F.col("lang"),
                F.col("source"),
                # wrong-typed on purpose: the parse schema must ignore it
                F.col("n_chars").cast("string").alias("n_chars"),
            )
        ),
    ).select(
        F.when(
            F.col("doc_id") % JSONL_CORRUPT_MOD == 0,
            F.expr("substring(payload, 1, length(payload) - 1)"),
        )
        .when(
            F.col("doc_id") % JSONL_DROPFIELD_MOD == 0,
            F.to_json(F.struct(F.col("doc_id"), F.col("lang"), F.col("source"))),
        )
        .otherwise(F.col("payload"))
        .alias("value")
    )
    # ONE keyed aggregate over the classified frame — a good/rejects
    # union-of-aggregates would re-scan the serialized source once per
    # branch (measured: 3 FileScans), the exact pattern the classify
    # kernel exists to avoid at 100 TB.
    cls = classify_jsonl_lines(lines)
    good = F.col("reject_reason").isNull()
    return (
        cls.groupBy(
            F.when(good, F.lit("lang")).otherwise(F.lit("reject")).alias("kind"),
            F.when(good, F.coalesce(F.col("lang"), F.lit("__null")))
            .otherwise(F.col("reject_reason"))
            .alias("key"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(good, F.col("n_chars")).otherwise(F.lit(0)))
            .cast("long")
            .alias("sum_chars"),
        )
        .orderBy("kind", "key")
    )


# ---------------------------------------------------------------------------
# STAGED operators (registry at its 150 cap — registration deferred to a
# rotation round with a free window slot / cap replacement, exactly like
# analytics.streamed_customer_features). Both are training-batch
# construction audits: the step between curation (dedup / mixture /
# packing, all registered) and the training loop itself. Local-oracle
# proven by tests/test_batching_staged.py at sf0.01.
# ---------------------------------------------------------------------------

#: Batch count for the padding audit. Production fixes the batch SIZE and
#: derives n_batches = ceil(n/B); NTILE semantics (sizes differ by <= 1)
#: keep the audit identical either way, and a fixed count keeps the oracle
#: scale-free.
PADDING_N_BATCHES = 64

#: Batch count + deterministic salt for the shuffle-order audit.
SHUFFLE_N_BATCHES = 32
SHUFFLE_SALT = "shuf1"

#: Oracle for :func:`length_bucket_padding_stats` (STAGED — see above).
#: DuckDB's native NTILE is the reference for the shared
#: _distributed_ntile bucket formula, the same parity customer_rfm /
#: spend_deciles already prove. savings_ppm uses the staged x1000-twice
#: remainder-corrected division (the gini_ppm overflow fix): exact
#: floor(num*1e6/den) through den ~ 9.2e15, and the CASE guard keeps both
#: engines on non-negative operands where Spark div and DuckDB // agree.
LENGTH_BUCKET_PADDING_ORACLE = f"""
    WITH pb_base AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    pb_a AS (
        SELECT n_tokens,
               NTILE({PADDING_N_BATCHES}) OVER (ORDER BY doc_id) AS b
        FROM pb_base
    ),
    pb_s AS (
        SELECT n_tokens,
               NTILE({PADDING_N_BATCHES}) OVER (ORDER BY n_tokens, doc_id) AS b
        FROM pb_base
    ),
    pb_aw AS (
        SELECT CAST(SUM(mx * c) AS BIGINT) AS slots,
               CAST(SUM(mx * c - t) AS BIGINT) AS waste
        FROM (SELECT MAX(n_tokens) AS mx, COUNT(*) AS c, SUM(n_tokens) AS t
              FROM pb_a GROUP BY b)
    ),
    pb_sw AS (
        SELECT CAST(SUM(mx * c) AS BIGINT) AS slots,
               CAST(SUM(mx * c - t) AS BIGINT) AS waste
        FROM (SELECT MAX(n_tokens) AS mx, COUNT(*) AS c, SUM(n_tokens) AS t
              FROM pb_s GROUP BY b)
    ),
    pb_tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_total
        FROM pb_base
    )
    SELECT pb_tot.n_docs, pb_tot.tokens_total,
           pb_aw.slots AS slots_arrival, pb_aw.waste AS waste_arrival,
           pb_sw.slots AS slots_sorted, pb_sw.waste AS waste_sorted,
           CAST(CASE WHEN pb_aw.waste <= pb_sw.waste THEN 0
                ELSE ((pb_aw.waste - pb_sw.waste) * 1000 // pb_aw.waste) * 1000
                   + (((pb_aw.waste - pb_sw.waste) * 1000 % pb_aw.waste) * 1000)
                     // pb_aw.waste
                END AS BIGINT) AS savings_ppm
    FROM pb_tot, pb_aw, pb_sw
"""


def padding_waste(base: DataFrame, sort_cols: list, n_batches: int) -> DataFrame:
    """One-row (slots, waste) for NTILE(n_batches) batching of ``base``
    ((doc_id, n_tokens) rows) under the given global order: every batch
    pads its sequences to the batch max, so slots = sum over batches of
    max*count and waste = slots - tokens. The global order costs one
    range exchange via the shared _distributed_ntile (never a global
    window); the per-batch reduce is an ordinary two-level aggregate."""
    from retail_aws_etl_pipeline_spark.plans.analytics import _distributed_ntile

    nt = _distributed_ntile(base, sort_cols, n_batches, "b")
    per = nt.groupBy("b").agg(
        F.max("n_tokens").alias("mx"),
        F.count(F.lit(1)).alias("c"),
        F.sum("n_tokens").alias("t"),
    )
    agg = per.agg(
        F.sum(F.expr("mx * c")).cast("long").alias("slots"),
        F.sum(F.expr("mx * c - t")).cast("long").alias("waste"),
    )
    return agg


@register_extra(
    "length_bucket_padding_stats",
    LENGTH_BUCKET_PADDING_ORACLE,
    description="Training-batch padding audit: pad-token waste of "
    "arrival-order vs length-sorted NTILE(64) batching plus the savings "
    "in ppm (staged remainder-corrected division) — the number that "
    "decides whether the training loader pays the global sort. One "
    "range exchange per ordering (shared _distributed_ntile); "
    "aggregates are 64 rows.",
    tags=("llm", "batching", "audit"),
)
def length_bucket_padding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for length-bucketed training batches
    (registered at the r11 rotation per the ROADMAP schedule).

    Packing variable-length documents into fixed-count batches pads every
    sequence to its batch max; sorting by length before chunking is the
    classic fix. This audit quantifies the win on THIS corpus: total pad
    tokens under arrival-order batching vs length-sorted batching (both
    exact NTILE({n}) assignments) plus the savings in ppm — the number
    that decides whether the training loader should pay the global sort.
    Minimality of sorted chunking is a theorem only for EQUAL batch
    sizes (k | n); NTILE's ±1 size slack admits adversarial tiny inputs
    where arrival order wins (hypothesis-found: [2,2,1] at k=2 — the
    larger batch is pinned onto the smallest values and the boundary
    misaligns), which is exactly why savings_ppm CASE-guards to 0 on
    waste_arrival <= waste_sorted: both engines stay on non-negative
    operands even when the heuristic loses. On real corpora (n >> k)
    the slack is one boundary per batch and the sort wins by orders of
    magnitude (98.4% of waste recovered at sf0.1). At 100 TB the only wide
    operation is the rank's range exchange — the same audited
    _distributed_ntile plan every quantile scorer uses; aggregates are
    64 rows."""

    t = load_tables(spark, sf_dir, ["documents"])
    base = t["documents"].select(
        "doc_id", TX.token_count("text").alias("n_tokens")
    )
    a = padding_waste(base, [F.asc("doc_id")], PADDING_N_BATCHES)
    s = padding_waste(
        base, [F.asc("n_tokens"), F.asc("doc_id")], PADDING_N_BATCHES
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
    )
    out = (
        tot.crossJoin(
            F.broadcast(
                a.withColumnRenamed("slots", "slots_arrival").withColumnRenamed(
                    "waste", "waste_arrival"
                )
            )
        )
        .crossJoin(
            F.broadcast(
                s.withColumnRenamed("slots", "slots_sorted").withColumnRenamed(
                    "waste", "waste_sorted"
                )
            )
        )
        .select(
            "n_docs",
            "tokens_total",
            "slots_arrival",
            "waste_arrival",
            "slots_sorted",
            "waste_sorted",
            F.expr(
                """
                CASE WHEN waste_arrival <= waste_sorted THEN 0
                     ELSE ((waste_arrival - waste_sorted) * 1000
                           div waste_arrival) * 1000
                        + (((waste_arrival - waste_sorted) * 1000
                            % waste_arrival) * 1000) div waste_arrival
                END
                """
            )
            .cast("long")
            .alias("savings_ppm"),
        )
    )
    return out


#: Oracle for :func:`corpus_shuffle_batches` (STAGED — see above).
CORPUS_SHUFFLE_ORACLE = f"""
    WITH sb_key AS (
        SELECT doc_id, lang, source,
               md5(CAST(doc_id AS VARCHAR) || ':{SHUFFLE_SALT}') AS k
        FROM documents
    ),
    sb_b AS (
        SELECT lang, source,
               CAST(NTILE({SHUFFLE_N_BATCHES}) OVER (ORDER BY k, doc_id)
                    AS BIGINT) AS batch_id
        FROM sb_key
    ),
    sb_d AS (
        SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM sb_b GROUP BY batch_id
    ),
    sb_src AS (
        SELECT batch_id, source, COUNT(*) AS c
        FROM sb_b WHERE source IS NOT NULL GROUP BY batch_id, source
    ),
    sb_g AS (
        SELECT batch_id,
               CAST(COUNT(*) AS BIGINT) AS n_sources,
               CAST(MAX(c) AS BIGINT) AS top_source_docs
        FROM sb_src GROUP BY batch_id
    ),
    sb_l AS (
        SELECT batch_id, CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM sb_b GROUP BY batch_id
    )
    SELECT d.batch_id, d.n_docs,
           COALESCE(l.n_langs, 0) AS n_langs,
           COALESCE(g.n_sources, 0) AS n_sources,
           COALESCE(g.top_source_docs, 0) AS top_source_docs
    FROM sb_d d
    LEFT JOIN sb_g g ON g.batch_id = d.batch_id
    LEFT JOIN sb_l l ON l.batch_id = d.batch_id
    ORDER BY d.batch_id
"""


@register_extra(
    "corpus_shuffle_batches",
    CORPUS_SHUFFLE_ORACLE,
    description="Deterministic training-order shuffle (md5(doc_id||salt) "
    "key, replay-idempotent; salt = epoch knob) + per-batch mixing audit: "
    "doc count, distinct langs/sources, largest single-source clump — "
    "Expand-free distinct counts via keyed sub-aggregates; exact "
    "NTILE(32) batches through the shared _distributed_ntile.",
    tags=("llm", "batching", "audit"),
)
def corpus_shuffle_batches(
    spark: SparkSession, sf_dir: str, salt: str = SHUFFLE_SALT
) -> DataFrame:
    """Deterministic training-order shuffle + per-batch mixing
    (registered at the r11 rotation per the ROADMAP schedule).
    audit. Corpora arrive clustered by source/lang; training on that
    order correlates consecutive gradients, so loaders resequence on a
    hash of the document id. The shuffle key is md5(doc_id || salt) —
    replay-idempotent (same salt -> same order, new salt -> fresh
    epoch order) and cluster-deterministic — and batches are exact
    NTILE({n}) over the keyed order via the shared _distributed_ntile
    (one range exchange; no global window). Output is the per-batch
    mixing audit: doc count (sizes differ by <= 1 — the NTILE
    guarantee), distinct langs/sources, and the largest single-source
    clump; a batch whose top_source_docs approaches n_docs means the
    shuffle failed to decorrelate. Distinct counts are computed from
    keyed sub-aggregates (batch,source)/(batch,lang) rather than one
    multi-distinct aggregate, so nothing plans an Expand blowup at
    scale."""
    from retail_aws_etl_pipeline_spark.plans.analytics import _distributed_ntile

    t = load_tables(spark, sf_dir, ["documents"])
    keyed = t["documents"].select(
        "doc_id",
        "lang",
        "source",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(":" + salt))
        ).alias("k"),
    )
    nt = _distributed_ntile(
        keyed, [F.asc("k"), F.asc("doc_id")], SHUFFLE_N_BATCHES, "batch_id"
    )
    # NULL lang/source are excluded from the distinct counts (ADVICE r12
    # sibling of the :7933 shard-manifest fix): the row counts of a keyed
    # sub-aggregate give NULL its own group, while COUNT(DISTINCT x)
    # ignores NULLs. n_docs is FUSED into the source sub-aggregate
    # (r13 verdict): the (batch, source) grouping keeps the NULL-source
    # group so SUM(c) is the exact batch size, while n_sources/
    # top_source_docs exclude it at the batch level — COUNT(source)
    # skips the NULL group key, and the MAX is NULL-guarded. One pass
    # and one join fewer than the r13 plan, same pinned semantics.
    g = (
        nt.groupBy("batch_id", "source")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("batch_id")
        .agg(
            F.sum("c").cast("long").alias("n_docs"),
            F.count("source").alias("n_sources"),
            F.coalesce(
                F.max(F.when(F.col("source").isNotNull(), F.col("c"))),
                F.lit(0),
            )
            .cast("long")
            .alias("top_source_docs"),
        )
    )
    langs = (
        nt.filter(F.col("lang").isNotNull())
        .groupBy("batch_id", "lang")
        .agg(F.count(F.lit(1)).alias("cl"))
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).alias("n_langs"))
    )
    out = (
        g.join(langs, "batch_id", "left")
        .select(
            "batch_id",
            "n_docs",
            F.coalesce(F.col("n_langs"), F.lit(0)).cast("long").alias("n_langs"),
            F.coalesce(F.col("n_sources"), F.lit(0)).cast("long").alias("n_sources"),
            F.coalesce(F.col("top_source_docs"), F.lit(0))
            .cast("long")
            .alias("top_source_docs"),
        )
        .orderBy("batch_id")
    )
    return out


#: Oracle for :func:`tokenizer_fertility_by_lang` (STAGED — see above).
#: Both ppm ratios use the staged x1000-twice remainder-corrected division
#: (exact floor(num*1e6/den) with int64 headroom to num ~ 9.2e15 — corpus
#: token sums pass 9.2e12 around the 10-PB mark, so the single-multiply
#: form is already wrong at the design scale).
TOKENIZER_FERTILITY_ORACLE = f"""
    WITH tf_doc AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
               CAST(len(regexp_extract_all(text, '{TX.WORD_TOKEN_PATTERN}'))
                    AS BIGINT) AS n_word,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    ),
    tf_g AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_ws) AS BIGINT) AS n_ws_tokens,
               CAST(SUM(n_word) AS BIGINT) AS n_word_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM tf_doc GROUP BY lang
    )
    SELECT lang, n_docs, n_ws_tokens, n_word_tokens, n_chars,
           CAST((n_word_tokens * 1000 // n_ws_tokens) * 1000
                + ((n_word_tokens * 1000 % n_ws_tokens) * 1000) // n_ws_tokens
                AS BIGINT) AS fertility_ppm,
           CAST((n_chars * 1000 // n_word_tokens) * 1000
                + ((n_chars * 1000 % n_word_tokens) * 1000) // n_word_tokens
                AS BIGINT) AS chars_per_token_ppm
    FROM tf_g
    ORDER BY lang
"""


@register_extra(
    "tokenizer_fertility_by_lang",
    TOKENIZER_FERTILITY_ORACLE,
    description="Tokenizer fertility audit by language: regex-tokens per "
    "whitespace word and chars per token (both integer ppm via the staged "
    "division) — the multilingual tokenizer-equity diagnostic; one "
    "scan-side projection + one |langs|-group aggregate, single exchange "
    "at any corpus size.",
    tags=("llm", "tokenizer", "audit"),
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit by language (registered at the r11
    rotation per the ROADMAP schedule). Fertility — how many
    subword-ish tokens the tokenizer spends per whitespace word — is the
    standard diagnostic for how well a tokenizer serves each language in
    a multilingual corpus (a high-fertility language pays more compute
    per sentence and effectively sees a shorter context window). Using
    the BPE-ish regex surrogate (letter runs / digit runs / single
    symbols — the same WORD_TOKEN_PATTERN the oracle evaluates in
    DuckDB), report per language: doc count, whitespace-token and regex-
    token totals, char total, fertility (regex per whitespace token, ppm)
    and chars-per-token (ppm). One scan-side projection + one keyed
    aggregate over |langs| groups; nothing else moves, so the plan is a
    single exchange at any corpus size. Integer-exact throughout — both
    ratios use the staged division (see oracle note)."""
    t = load_tables(spark, sf_dir, ["documents"])
    per = t["documents"].select(
        "lang",
        TX.token_count("text").alias("n_ws"),
        TX.word_token_count("text").cast("long").alias("n_word"),
        F.length("text").cast("long").alias("n_chars"),
    )
    g = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws").cast("long").alias("n_ws_tokens"),
        F.sum("n_word").cast("long").alias("n_word_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    return g.select(
        "lang",
        "n_docs",
        "n_ws_tokens",
        "n_word_tokens",
        "n_chars",
        F.expr(
            "(n_word_tokens * 1000 div n_ws_tokens) * 1000"
            " + ((n_word_tokens * 1000 % n_ws_tokens) * 1000) div n_ws_tokens"
        )
        .cast("long")
        .alias("fertility_ppm"),
        F.expr(
            "(n_chars * 1000 div n_word_tokens) * 1000"
            " + ((n_chars * 1000 % n_word_tokens) * 1000) div n_word_tokens"
        )
        .cast("long")
        .alias("chars_per_token_ppm"),
    ).orderBy("lang")


#: Oracle for :func:`quality_by_length_decile` (STAGED — see above). The
#: integer quality key is the SAME scaled lexical diversity the budget
#: knapsack sorts by (operators.sampling: distinct_tokens * SCALE div
#: tokens), so this audit calibrates exactly the key the selection uses.
QUALITY_LENGTH_DECILE_ORACLE = """
    WITH ql_base AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   * 1000000 // CAST(len(string_split(text, ' ')) AS BIGINT)
                   AS quality
        FROM documents
    ),
    ql_d AS (
        SELECT n_tokens, quality,
               CAST(NTILE(10) OVER (ORDER BY n_tokens, doc_id) AS BIGINT)
                   AS length_decile
        FROM ql_base
    )
    SELECT length_decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(quality) // COUNT(*) AS BIGINT) AS mean_quality
    FROM ql_d
    GROUP BY length_decile
    ORDER BY length_decile
"""


@register_extra(
    "quality_by_length_decile",
    QUALITY_LENGTH_DECILE_ORACLE,
    description="Length-bias calibration of the lexical-diversity quality "
    "key: exact length deciles (shared _distributed_ntile, one range "
    "exchange, no global window) x (doc count, token mass, length range, "
    "integer mean quality) — a steep slope means the quality gate must be "
    "length-normalized before it drops every long document.",
    tags=("llm", "quality", "audit"),
)
def quality_by_length_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bias calibration of the quality key (registered at the r11
    rotation per the ROADMAP schedule). The
    token-budget knapsack (token_budget_select) and every quality-gated
    filter rank documents by scaled lexical diversity (distinct/total
    tokens) — a key that mechanically FALLS with document length, since
    long documents repeat words. This audit makes that bias visible:
    documents bucket into exact length deciles (shared _distributed_ntile
    over (n_tokens, doc_id) — one range exchange, no global window) and
    each decile reports its doc count, token mass, token-length range and
    mean quality (floor of the scaled integer mean, engine-exact). A
    steep mean_quality slope across deciles tells the curator the quality
    threshold must be per-length-bucket (or the key length-normalized)
    before it silently drops every long document; the analogous
    per-language split is quality_top_half_per_lang. QUALITY_SCALE keeps
    the sums within int64 to ~9.2e12 docs; the mean's operands are
    sum(quality) <= n_docs * 10^6 — same envelope."""
    from retail_aws_etl_pipeline_spark.plans.analytics import _distributed_ntile

    t = load_tables(spark, sf_dir, ["documents"])
    base = t["documents"].select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.expr(
            # BIGINT cast BEFORE the multiply (ADVICE r12 sibling of the
            # :7749 fix): size() is INT, so the int32 product wraps (or
            # crashes under ANSI) for any document with >2,147 distinct
            # tokens — a ~15 KB web page — while the oracle multiplies
            # in BIGINT.
            "CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000000"
            " div CAST(size(split(text, ' ')) AS BIGINT)"
        ).alias("quality"),
    )
    nt = _distributed_ntile(
        base, [F.asc("n_tokens"), F.asc("doc_id")], 10, "length_decile"
    )
    out = (
        nt.groupBy("length_decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
            F.expr("sum(quality) div count(1)").cast("long").alias("mean_quality"),
        )
        .orderBy("length_decile")
    )
    return out


#: Oracle for :func:`webp_dims_probe`: the synthetic corpus's id-formula
#: dims; only the format literal differs from the other header probes.
WEBP_DIMS_ORACLE = """
    SELECT doc_id AS media_id,
           'webp' AS format,
           CAST(16 + doc_id % 100 AS INT) AS width,
           CAST(9 + (doc_id * 7) % 100 AS INT) AS height
    FROM documents ORDER BY media_id
"""


@register_extra(
    "webp_dims_probe",
    WEBP_DIMS_ORACLE,
    description="WebP header-walk dims probe: one Arrow-batched "
    "O(header-bytes) kernel parsing all three bitstream flavors "
    "(VP8 lossy / VP8L lossless / VP8X extended) against the "
    "payload-blind id-formula oracle.",
    tags=("multimodal", "image"),
)
def webp_dims_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP header probe — the web-crawl image format the
    jpeg/png/gif probe corpus lacked. The synth side writes per-id dims
    into real RIFF/WEBP headers cycling all three bitstream flavors by
    id (VP8 lossy 14-bit dims after the keyframe start code, VP8L
    lossless 14-bit-packed fields, VP8X extended 24-bit canvas dims);
    the probe must parse three DIFFERENT layouts to agree with the one
    id-formula oracle, which never sees payloads. Arrow-batched
    O(header)-bytes-per-row kernel."""
    from retail_aws_etl_pipeline_spark.operators import multimodal as MM

    ids = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id")
    return MM.probe_dims(MM.synth_webp_media(ids, "doc_id")).orderBy("media_id")


#: Oracle for :func:`ogg_meta_probe` (STAGED — see above). Same stream
#: parameter formulas as audio_meta_probe's wav/flac rows.
OGG_META_ORACLE = """
    SELECT doc_id AS media_id,
           CASE doc_id % 2 WHEN 0 THEN 'opus' ELSE 'vorbis' END AS format,
           CAST(8000 + (doc_id % 100) * 80 AS INT) AS sample_rate,
           CAST(1 + doc_id % 2 AS INT) AS n_channels
    FROM documents ORDER BY media_id
"""


@register_extra(
    "ogg_meta_probe",
    OGG_META_ORACLE,
    description="OGG container probe: Opus/Vorbis identification "
    "headers from the first page's first packet (codec, channels, "
    "rate) — O(header-bytes) per payload, payload-blind oracle.",
    tags=("multimodal", "audio"),
)
def ogg_meta_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGG container probe — Opus and Vorbis identification
    headers parsed from the first page's first packet (channels + rate),
    completing the audio twin family (wav/flac/mp3 are the registered
    audio_meta_probe). Same Arrow-batched O(page-header) kernel and the
    same never-sees-payloads id-formula oracle discipline."""
    from retail_aws_etl_pipeline_spark.operators import multimodal as MM

    ids = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id")
    return MM.probe_audio(MM.synth_ogg_media(ids, "doc_id")).orderBy("media_id")


#: Oracle for :func:`warc_record_stats` (STAGED — see above). Every parsed
#: field is a pure function of the id (sources/warc._warc_record_bytes),
#: so the oracle reconstructs the parse without ever seeing WARC bytes —
#: the media-probe corpus discipline applied to a container format.
WARC_RECORD_ORACLE = """
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 3 THEN 'request' ELSE 'response' END
               AS warc_type,
           CAST(CASE WHEN doc_id % 4 = 3 THEN NULL
                ELSE CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 404
                     ELSE 301 END END AS INT) AS http_status,
           CAST(CASE WHEN doc_id % 4 = 3 THEN 0
                ELSE 10 + doc_id % 50 END AS BIGINT) AS payload_length,
           'src' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS target_host
    FROM documents ORDER BY doc_id
"""


@register_extra(
    "warc_record_stats",
    WARC_RECORD_ORACLE,
    description="WARC crawl-shard record parsing — framing walk (version "
    "line, header block, Content-Length'd HTTP message) in one "
    "Arrow-batched pass per shard; per-record type/status/payload-bytes/"
    "host, bodies never leave the kernel (include_body=False), so the "
    "exchange carries headers only. Oracle reconstructs the parse purely "
    "from id formulas — never sees WARC bytes.",
    tags=("crawl", "warc", "source"),
)
def warc_record_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-shard parsing (registered at the r10 rotation per the
    ROADMAP schedule) — the interchange format web
    corpora actually arrive in, completing the source family (CSV drops,
    JSONL, parquet, WARC). Shards are synthesized executor-side from id
    formulas (10 shards, binaryFile-shaped rows, no disk), the record
    splitter walks real WARC framing (version line, header block,
    Content-Length'd HTTP message, CRLF CRLF terminator) in one
    Arrow-batched pass per shard, and the parsed per-record row —
    type, HTTP status (responses only), payload bytes past the HTTP
    header terminator, target host — must agree with the oracle that
    reconstructs the parse purely from the id formulas. Bodies never
    leave the kernel (include_body=False), so the exchange carries
    headers only — the 100 TB stats shape."""
    from retail_aws_etl_pipeline_spark.sources.warc import (
        parse_warc_records,
        synth_warc_shards,
    )

    ids = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id")
    recs = parse_warc_records(synth_warc_shards(ids, "doc_id"))
    return recs.select(
        F.regexp_extract("record_id", "urn:doc:([0-9]+)", 1)
        .cast("long")
        .alias("doc_id"),
        "warc_type",
        F.col("http_status").cast("int").alias("http_status"),
        F.col("payload_length").cast("long").alias("payload_length"),
        F.regexp_extract("target_uri", "http://([^/]+)/", 1).alias("target_host"),
    ).orderBy("doc_id")


#: Oracle for :func:`warc_text_corpus` (STAGED — see above). The extracted
#: text of the formulaic HTML is itself a formula of the id, so the oracle
#: builds the EXPECTED final strings with no HTML, no regex, no payloads —
#: an end-to-end pin of payload split + decode + tag-strip + collapse.
WARC_TEXT_ORACLE = """
    SELECT doc_id,
           'http://src' || CAST(doc_id % 7 AS VARCHAR)
               || '.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
           'T' || CAST(doc_id AS VARCHAR) || ' alpha beta '
               || CAST(doc_id AS VARCHAR) || ' gamma' AS text,
           CAST(length('T' || CAST(doc_id AS VARCHAR) || ' alpha beta '
               || CAST(doc_id AS VARCHAR) || ' gamma') AS BIGINT) AS n_chars
    FROM documents
    WHERE doc_id % 4 <> 3 AND doc_id % 3 = 0
    ORDER BY doc_id
"""


@register_extra(
    "warc_text_corpus",
    WARC_TEXT_ORACLE,
    description="Crawl -> corpus extraction end to end: WARC shards -> "
    "record split -> 2xx response filter -> payload decode -> scan-side "
    "tag strip/whitespace collapse -> (doc_id, url, text, n_chars) rows "
    "ready for the curation pipeline. Oracle constructs the expected "
    "FINAL text purely from the id, hash-pinning the whole chain.",
    tags=("crawl", "warc", "text"),
)
def warc_text_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl → corpus extraction step end-to-end (registered at the
    r10 rotation per the ROADMAP schedule) — WARC
    shards (synthesized from id formulas with formulaic HTML bodies) →
    record split → 2xx response filter → payload decode → scan-side tag
    strip/whitespace collapse → (doc_id, url, text, n_chars) rows ready
    for the existing curation pipeline (normalize → dedup → budget).
    The oracle constructs the expected FINAL text purely from the id,
    so the whole chain (framing, HTTP split, decode, extraction) is
    hash-pinned with no tolerance."""
    from retail_aws_etl_pipeline_spark.sources.warc import (
        synth_warc_shards,
        warc_html_documents,
    )

    ids = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id")
    return warc_html_documents(
        synth_warc_shards(ids, "doc_id", html=True)
    ).orderBy("doc_id")


#: Oracle for :func:`avif_dims_probe` (STAGED — see above).
AVIF_DIMS_ORACLE = """
    SELECT doc_id AS media_id,
           CASE doc_id % 2 WHEN 0 THEN 'avif' ELSE 'heic' END AS format,
           CAST(16 + doc_id % 100 AS INT) AS width,
           CAST(9 + (doc_id * 7) % 100 AS INT) AS height
    FROM documents ORDER BY media_id
"""


@register_extra(
    "avif_dims_probe",
    AVIF_DIMS_ORACLE,
    description="AVIF/HEIC dims probe via the shared ISO-BMFF box "
    "walker (meta>iprp>ipco>ispe), both brands cycled per id against "
    "the payload-blind oracle.",
    tags=("multimodal", "image"),
)
def avif_dims_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVIF/HEIC dims probe — the modern still-image ISO-BMFF
    containers (meta → iprp → ipco → ispe box walk, reusing the MP4
    walker's largesize/truncation discipline). Same id-formula oracle
    pattern as webp_dims_probe; an MP4's ftyp stays 'unknown' to this
    probe (probe_video_meta owns video containers)."""
    from retail_aws_etl_pipeline_spark.operators import multimodal as MM

    ids = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id")
    return MM.probe_dims(MM.synth_avif_media(ids, "doc_id")).orderBy("media_id")


#: Oracle for :func:`zorder_pruning_stats` (STAGED). zorder_write routes
#: every row to a grid cell by PURE ARITHMETIC (scale each axis onto
#: [0, 4095], take the two top bits per axis, interleave) — no sampling,
#: no RangePartitioner — so the oracle mirrors that arithmetic in SQL and
#: reconstructs the per-cell row counts and min/max extents without ever
#: writing a file. FLOOR (not CAST) mirrors Spark's double->long
#: truncation; the scale expression keeps the operator's exact
#: parenthesization so both engines run the identical IEEE double ops.
ZORDER_PRUNING_ORACLE = """
    WITH pts AS (
        SELECT doc_id % 97 AS x, (doc_id * 31) % 89 AS y FROM documents
    ),
    bounds AS (
        SELECT CAST(MIN(x) AS DOUBLE) AS mnx, CAST(MAX(x) AS DOUBLE) AS mxx,
               CAST(MIN(y) AS DOUBLE) AS mny, CAST(MAX(y) AS DOUBLE) AS mxy
        FROM pts
    ),
    scaled AS (
        SELECT x, y,
               LEAST(4095, GREATEST(0, CAST(FLOOR(
                   ((CAST(x AS DOUBLE) - mnx) / (mxx - mnx)) * 4095
               ) AS BIGINT))) AS sx,
               LEAST(4095, GREATEST(0, CAST(FLOOR(
                   ((CAST(y AS DOUBLE) - mny) / (mxy - mny)) * 4095
               ) AS BIGINT))) AS sy
        FROM pts, bounds
    ),
    cells AS (
        SELECT x, y,
               ((sy >> 11) & 1) * 8 + ((sx >> 11) & 1) * 4
             + ((sy >> 10) & 1) * 2 + ((sx >> 10) & 1) AS zcell
        FROM scaled
    )
    SELECT CAST(zcell AS BIGINT) AS zcell,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
           CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
    FROM cells GROUP BY zcell ORDER BY zcell
"""


@register_extra(
    "zorder_pruning_stats",
    ZORDER_PRUNING_ORACLE,
    description="Z-order layout pruning proof: write a two-axis table "
    "through zorder_write (4x4 interleaved-bit grid cells), read it back, "
    "report per-cell row count + min/max extents on both axes; the oracle "
    "reconstructs the table from the routing arithmetic alone, so a hash "
    "match pins the deterministic grid routing AND the pruning claim "
    "(each cell's extents sit inside one aligned quadrant). Registered "
    "r12 (ROADMAP r12 schedule <-> cross_source_dup_matrix cap swap).",
    tags=("layout", "zorder", "pruning"),
)
def zorder_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r12 (was STAGED since r10): the Z-order layout's
    pruning claim as a registry query —
    write a two-axis table through ``operators.layout.zorder_write``
    (16 grid cells = the 4×4 quadrant grid over both axes), read it BACK
    from disk, and report each cell directory's row count and min/max
    extent on BOTH axes. The oracle reconstructs the identical table from
    the routing arithmetic alone (scale → top-2-bits → interleave), so a
    hash match pins (a) the deterministic partitionBy grid routing — every
    row's directory is a pure function of its values, the property the two
    repartitionByRange drafts could not give — and (b) the pruning
    statement itself: each cell's extents sit inside one aligned quadrant,
    so a filter on EITHER axis overlaps exactly 4 of 16 cells (the
    footer-stats twin of tests/test_layout.py, now driver-visible). The
    scratch-table harness mirrors ann_topk_ivf_indexed: temp dir for the
    check, bounded result localCheckpoint-ed before cleanup; in production
    the layout is a real table that outlives queries."""
    import shutil
    import tempfile

    from retail_aws_etl_pipeline_spark.operators.layout import zorder_write

    t = load_tables(spark, sf_dir, ["documents"])
    pts = t["documents"].select(
        (F.col("doc_id") % 97).alias("x"),
        ((F.col("doc_id") * 31) % 89).alias("y"),
    )
    out_dir = tempfile.mkdtemp(prefix="zorder_stats_")
    try:
        zorder_write(pts, out_dir, ["x", "y"], n_files=16)
        back = spark.read.parquet(out_dir)
        return (
            back.groupBy(F.col("__zcell").cast("long").alias("zcell"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("x").cast("long").alias("min_x"),
                F.max("x").cast("long").alias("max_x"),
                F.min("y").cast("long").alias("min_y"),
                F.max("y").cast("long").alias("max_y"),
            )
            .orderBy("zcell")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


@functools.cache
def _dsir_oracle() -> str | None:
    """Oracle for :func:`dsir_selected_docs` (STAGED). The oracle FITS THE
    MODEL INDEPENDENTLY — DuckDB tokenizes/hashes/counts the same corpus,
    then the counts run through the identical pure-Python quantization
    (``sampling.dsir_logratio``) — so a hash match pins tokenization,
    feature hashing, both bucket-count models, the quantized log-ratio
    table, the exact-int scoring sum, AND the top-N rank, end to end.
    Same import-time-fit discipline as ``_ivf_oracle`` (memoized; one fit
    per process) and the same sf0.01 PINNING: the lut literals derive
    from that corpus, so the driver only compares at its gate scale —
    comparison at any other SF is invalid by construction (the r12
    session verified the operator at sf0.1 against a REFIT oracle:
    hash-exact)."""
    import os

    from retail_aws_etl_pipeline_spark.operators import sampling as SMP

    path = "/root/testdata/sf0.01/documents.parquet"
    if not os.path.exists(path):
        return None
    import duckdb

    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"

    bucket = (
        f"({nib(1)} * 4096 + {nib(2)} * 256 + {nib(3)} * 16 + {nib(4)})"
        f" % {SMP.DSIR_BUCKETS}"
    )
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH words AS (
            SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
                   unnest(string_split(text, ' ')) AS w
            FROM read_parquet('{path}')
        ),
        h AS (SELECT is_t, md5(w) AS h FROM words)
        SELECT {bucket} AS b, SUM(is_t) AS ct, COUNT(*) AS cr
        FROM h GROUP BY 1
        """
    ).fetchall()
    con.close()
    ct = {int(b): int(t) for b, t, _ in rows}
    cr = {int(b): int(r) for b, _, r in rows}
    lut = SMP.dsir_logratio(ct, cr)
    vals = ", ".join(f"({b}, {v})" for b, v in enumerate(lut))
    return f"""
    WITH lut(b, q) AS (VALUES {vals}),
    words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wb AS (
        SELECT doc_id, {bucket} AS b
        FROM (SELECT doc_id, md5(w) AS h FROM words)
    ),
    scored AS (
        SELECT wb.doc_id, CAST(SUM(l.q) AS BIGINT) AS dsir_score
        FROM wb JOIN lut l ON l.b = wb.b GROUP BY wb.doc_id
    ),
    ranked AS (
        SELECT doc_id, dsir_score,
               ROW_NUMBER() OVER (ORDER BY dsir_score DESC, doc_id ASC) AS rank
        FROM scored
    )
    SELECT doc_id, dsir_score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {SMP.DSIR_TOP_N} ORDER BY rank
    """


DSIR_SELECTED_ORACLE = _dsir_oracle()


@register_extra(
    "dsir_selected_docs",
    DSIR_SELECTED_ORACLE,
    description="DSIR data selection (Xie et al. 2023): hashed "
    "word-unigram bag models for target (lang='en') and raw corpus fit "
    "in one exploded-word pass; per-bucket log importance ratio "
    "quantized to int64 at fit time, per-doc score = exact integer sum, "
    "top-N by (score desc, doc_id). Oracle fits the model independently "
    "in DuckDB + the shared pure-Python quantizer. Registered r12 "
    "(ROADMAP r12 schedule <-> sorted_neighborhood_pairs cap swap).",
    tags=("curation", "sampling", "dsir"),
)
def dsir_selected_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r12 (was STAGED since r10): DSIR-style data selection
    (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling") — the standard recipe
    for skimming a web-scale raw corpus toward a target distribution.
    Hashed word-unigram bag models are fitted for the target (here:
    ``lang = 'en'`` documents) and the raw corpus in ONE exploded-word
    pass; the per-bucket log importance ratio is quantized to int64 AT FIT
    TIME (``DSIR_LOG_SCALE``), so every document score — the sum of its
    words' bucket ratios — is exact integer arithmetic that any engine
    reproduces bit-for-bit (no float log-sum ordering hazards). Scoring is
    scan-side: the 256-literal ratio table rides the plan as an
    ``element_at`` lookup (no join), one explode + one doc-keyed exchange.
    Deterministic variant of the paper's Gumbel resampling: top-N by
    (score, doc_id) — rank-exact, WindowGroupLimit-optimized. At 100 TB:
    fit once on a bounded sample, then selection is a single scan+agg over
    the corpus — the cheapest of all the curation passes here."""
    from retail_aws_etl_pipeline_spark.operators import sampling as SMP
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    lut = SMP.dsir_fit(docs, F.col("lang") == "en")
    w = W.orderBy(F.desc("dsir_score"), F.asc("doc_id"))
    return (
        SMP.dsir_scores(docs, lut)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= SMP.DSIR_TOP_N)
        .orderBy("rank")
    )


#: Per-rule SQL over the metric CTE's columns — shared verbatim by the
#: flag SELECT and the composite.
_GOPHER_FLAG_SQL = {
    "word_count_ok": f"(n_words >= {TX.GOPHER_MIN_WORDS}"
    f" AND n_words <= {TX.GOPHER_MAX_WORDS})",
    "mean_word_len_ok": "(sum_len >= 3 * n_words AND sum_len <= 10 * n_words)",
    "symbol_ratio_ok": "((n_hash + n_ell) * 10 <= n_words)",
    "bullet_lines_ok": "(n_bullet * 10 <= n_lines * 9)",
    "ellipsis_lines_ok": "(n_ell_lines * 10 <= n_lines * 3)",
    "alpha_word_ok": "(n_alpha * 5 >= n_words * 4)",
    "stopword_ok": "(n_stop_kinds >= 2)",
}

#: The composite gate: AND of every rule, in rule order.
_GOPHER_PASS_SQL = "(" + " AND ".join(_GOPHER_FLAG_SQL.values()) + ")"


#: Oracle for :func:`gopher_quality_report`. Every Gopher rule is
#: an exact integer comparison (ratio thresholds cross-multiplied), so the
#: oracle recomputes the whole battery in DuckDB list algebra with no
#: tolerance — same discipline as the quality/fingerprint oracles.
#: Built from the shared fragments above (r15 factoring; semantics
#: unchanged — every flag and the composite are the same expressions).
_GOPHER_FLAG_SELECT = (",\n           ").join(
    f"{sql} AS {name}" for name, sql in _GOPHER_FLAG_SQL.items()
)

GOPHER_QUALITY_ORACLE = f"""
    WITH base AS (
        SELECT doc_id, text,
               string_split(text, ' ') AS toks,
               string_split(text, chr(10)) AS lines
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(toks) AS n_words,
               list_sum(list_transform(toks, x -> length(x))) AS sum_len,
               length(text) - length(replace(text, '#', '')) AS n_hash,
               (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell,
               len(lines) AS n_lines,
               len(list_filter(lines,
                   l -> starts_with(l, '- ') OR starts_with(l, '•'))) AS n_bullet,
               len(list_filter(lines,
                   l -> ends_with(l, '...') OR ends_with(l, '…'))) AS n_ell_lines,
               len(list_filter(toks,
                   x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
               {" + ".join(
                   f"(CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END)"
                   for w in TX.GOPHER_STOPWORDS
               )} AS n_stop_kinds
        FROM base
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           {_GOPHER_FLAG_SELECT},
           {_GOPHER_PASS_SQL} AS gopher_pass
    FROM m ORDER BY doc_id
"""


@register_extra(
    "gopher_quality_report",
    GOPHER_QUALITY_ORACLE,
    description="Gopher quality-rule battery (Rae et al. 2021 A1.1): "
    "per-document rule flags (word count band, mean word length band, "
    "symbol/ellipsis/bullet ratios, alpha-word ratio, stopword kinds) "
    "plus the composite gopher_pass — all integer/boolean Column algebra "
    "with cross-multiplied thresholds, zero floats, zero UDFs, pure "
    "scan-side projection. Registered r12 (ROADMAP r12 schedule <-> "
    "bm25_query_scores cap swap).",
    tags=("curation", "quality", "gopher"),
)
def gopher_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r12 (was STAGED since r10): the Gopher quality-rule
    battery (Rae et al. 2021, appendix
    A1.1 — the standard pre-training corpus filter reused by MassiveText
    descendants, RedPajama, Dolma) as per-document rule flags plus the
    composite ``gopher_pass``. Every rule is integer/boolean Column
    algebra with cross-multiplied thresholds — zero floats, zero UDFs, a
    pure scan-side projection (no exchange except the ordered collect) —
    so the oracle recomputes the battery exactly. Complements the
    repo's composite ``quality_features`` score: that one ranks, this one
    GATES, and real pipelines run both (gate first, rank survivors)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        TX.gopher_quality_flags(t["documents"])
        .select(
            "doc_id",
            "n_words",
            "word_count_ok",
            "mean_word_len_ok",
            "symbol_ratio_ok",
            "bullet_lines_ok",
            "ellipsis_lines_ok",
            "alpha_word_ok",
            "stopword_ok",
            "gopher_pass",
        )
        .orderBy("doc_id")
    )


def _bpe_train_oracle() -> str:
    """Oracle for :func:`bpe_train_merges_report` (STAGED): the fixed
    ``BPE_MERGE_ROUNDS`` trainer schedule unrolled as a CTE chain — per
    round, pair counts (adjacent-index join, frequency-weighted), the
    deterministic argmax, and the same SINGLE-pass ``replace`` merge
    over two-space separators (exactly greedy left-to-right — see
    ``textops.bpe_train_merges``). Pair positions are generated per row
    from the ACTUAL symbol count (a lateral ``generate_series(1,
    len(t) - 1)``), never a fixed cap — long tokens (URLs, junk strings)
    keep every adjacent pair. Every quantity is an integer and the
    tiebreak lexicographic, so the merge table is hash-exact."""
    r = TX.BPE_MERGE_ROUNDS
    parts = [
        f"""
    words AS (
        SELECT w, COUNT(*) AS freq FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ) WHERE w <> '' GROUP BY w
    ),
    vocab0 AS (
        SELECT ' ' || array_to_string(string_split(w, ''), '  ')
               || '  {TX.BPE_EOW} ' AS sym, freq
        FROM words
    )"""
    ]
    for i in range(1, r + 1):
        parts.append(
            f"""
    toks{i} AS (
        SELECT sym, freq, string_split(trim(sym), '  ') AS t FROM vocab{i - 1}
    ),
    counts{i} AS (
        SELECT t[i] AS a, t[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM (SELECT t, freq, UNNEST(generate_series(1, len(t) - 1)) AS i
              FROM toks{i})
        GROUP BY 1, 2
    ),
    best{i} AS (
        SELECT a, b, cnt FROM counts{i} ORDER BY cnt DESC, a, b LIMIT 1
    ),
    vocab{i} AS (
        SELECT replace(v.sym,
                   ' ' || bt.a || '  ' || bt.b || ' ',
                   ' ' || bt.a || bt.b || ' ') AS sym,
               v.freq
        FROM vocab{i - 1} v, best{i} bt
    )"""
        )
    union = "\n        UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS round, a AS left_sym, b AS right_sym,"
        f" cnt AS pair_count FROM best{i}"
        for i in range(1, r + 1)
    )
    return (
        "WITH " + ",".join(parts) + f"\n    SELECT * FROM ({union}) ORDER BY round"
    )


BPE_TRAIN_ORACLE = _bpe_train_oracle()


@register_extra(
    "bpe_train_merges_report",
    BPE_TRAIN_ORACLE,
    description="BPE tokenizer training loop (Sennrich et al. 2016): per "
    "round, frequency-weighted adjacent symbol-pair counts over the "
    "bounded word-frequency table, deterministic argmax (count desc, "
    "lexicographic tiebreak), greedy left-to-right merge; reports the "
    "learned merge list with per-round counts. Oracle unrolls the same "
    "rounds in DuckDB. Registered r12 (ROADMAP r12 schedule <-> "
    "bpe_pair_stats cap swap — the census's adjacent-pair layer stays "
    "via collocation_pairs, pinned by twin test).",
    tags=("tokenizer", "bpe", "training"),
)
def bpe_train_merges_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r12 (was STAGED since r10): the BPE tokenizer TRAINING
    LOOP (Sennrich et al. 2016) as
    an iterative distributed operator — per round: frequency-weighted
    adjacent-pair counts over the word-frequency table, deterministic
    argmax (count desc, lexicographic tiebreak), single-pass replace
    merge over two-space separators (exactly greedy left-to-right — see
    the operator docstring), with
    the argmax rejoined as a broadcast row so there is NO driver collect
    anywhere in the loop. The corpus-scale exchange happens ONCE (the
    word-frequency groupBy); the loop then iterates on |vocab| rows —
    the standard trainer construction and the reason this scales to
    100 TB (pair stats are frequency sums over distinct words). The
    oracle unrolls the identical fixed schedule; all-integer counts and
    the lexicographic tiebreak make the merge table hash-exact."""
    t = load_tables(spark, sf_dir, ["documents"])
    return TX.bpe_train_merges(t["documents"]).orderBy("round")


#: Oracle for :func:`cdc_chunk_dedup` (STAGED). The whole CDC pipeline —
#: md5-nibble token hashes, the windowed polynomial fold, boundary filter,
#: slice/join chunk assembly, and the dedup aggregate — re-expressed in
#: DuckDB list algebra. list_reduce seeds with the FIRST element, so the
#: oracle prepends the 0 that Spark's aggregate(…, 0L, …) starts from.
_CDC_NIB = (
    "((strpos('0123456789abcdef', substr(md5(x), 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5(x), 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5(x), 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(x), 4, 1)) - 1))"
)
CDC_CHUNK_ORACLE = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    h AS (
        SELECT doc_id, toks,
               list_transform(toks, x -> CAST({_CDC_NIB} AS BIGINT)) AS hs
        FROM t
    ),
    r AS (
        SELECT doc_id, toks,
               list_transform(range(1, len(toks) + 1), i ->
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_slice(hs, greatest(1, i - {D.CDC_WINDOW - 1}), i)),
                       (a, x) -> (a * {D.CDC_BASE} + x) % {D.CDC_MOD})) AS roll
        FROM h
    ),
    b AS (
        SELECT doc_id, toks,
               list_filter(range(1, len(toks) + 1), i ->
                   roll[i] % {D.CDC_DIVISOR} = 0 AND i < len(toks)) AS bpos
        FROM r
    ),
    s AS (
        SELECT doc_id, toks,
               list_prepend(1, list_transform(bpos, p -> p + 1)) AS starts,
               list_append(bpos, len(toks)) AS ends
        FROM b
    ),
    c AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(starts) + 1), k ->
                   array_to_string(list_slice(toks, starts[k], ends[k]), ' ')))
                   AS chunk_text
        FROM s
    )
    SELECT md5(chunk_text) AS chunk_hash,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM c
    GROUP BY 1
    ORDER BY n_occurrences DESC, chunk_hash ASC
    LIMIT 100
"""


@register_extra(
    "cdc_chunk_dedup",
    CDC_CHUNK_ORACLE,
    description="Content-defined chunk dedup: Rabin-style rolling-hash "
    "boundaries make chunking shift-resistant (a one-token insertion "
    "realigns, unlike fixed windows — pinned by twin test vs "
    "token_chunk_dedup), per-row array algebra in one projection, then "
    "the standard content-keyed groupBy on chunk hash; top duplicated "
    "chunks by occurrence. Registered r12 (ROADMAP r12 schedule <-> "
    "token_chunk_dedup cap swap; token_chunk_dedup_corpus keeps the "
    "fixed-window end-to-end surface registered).",
    tags=("dedup", "cdc", "chunking"),
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r12 (was STAGED since r10): content-defined chunk dedup —
    the SHIFT-RESISTANT sub-document dedup (Rabin-style rolling-hash
    boundaries, the LBFS storage-dedup technique applied to corpus
    curation). Fixed-window chunk dedup loses every match when a mirror adds
    one leading token; CDC boundaries are functions of local content, so
    chunks realign after any insertion (pinned by test) and shared passages
    keep deduplicating. The whole chunker is per-row array algebra inside
    one projection — no shuffle until the standard content-keyed groupBy on
    the chunk hash — and the oracle re-expresses the identical
    fold/filter/slice pipeline in DuckDB list algebra, so the
    top-duplicated-chunk table is hash-exact."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return (
        D.content_defined_chunks(docs)
        .groupBy(F.md5("chunk_text").alias("chunk_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("chunk_hash"))
        .limit(100)
    )


def _bpe_encode_oracle() -> str:
    """Oracle for :func:`bpe_encode_report` (STAGED): reuses the trainer
    oracle's unrolled best1..bestR CTEs, then ENCODES every document with
    the same chain of single-pass two-space-separator replaces and
    aggregates per language — the full tokenizer lifecycle (train +
    encode) under one hash gate."""
    r = TX.BPE_MERGE_ROUNDS
    train = _bpe_train_oracle()
    # reuse everything up to the last vocab CTE; strip the trainer's
    # final top-level SELECT (the marker is unique — the union's inner
    # SELECTs sit inside the parenthesized subquery after it).
    with_block = train[: train.index("\n    SELECT * FROM (")]
    enc = "sym0"
    for i in range(1, r + 1):
        pat = f"' ' || (SELECT a FROM best{i}) || '  ' || (SELECT b FROM best{i}) || ' '"
        rep = f"' ' || (SELECT a FROM best{i}) || (SELECT b FROM best{i}) || ' '"
        enc = f"replace({enc}, {pat}, {rep})"
    return (
        with_block
        + f""",
    dsym AS (
        SELECT lang,
               len(string_split(text, ' ')) AS n_words,
               length(text) AS n_chars,
               ' ' || array_to_string(list_transform(string_split(text, ' '),
                   w -> array_to_string(string_split(w, ''), '  ')
                        || '  {TX.BPE_EOW}'), '  ') || ' ' AS sym0
        FROM documents
    ),
    denc AS (
        SELECT lang,
               n_chars - (n_words - 1) + n_words AS n_base,
               len(string_split(trim({enc}), '  ')) AS n_tok
        FROM dsym
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_base) AS BIGINT) AS base_symbols,
           CAST(SUM(n_tok) AS BIGINT) AS bpe_tokens,
           CAST(SUM(n_tok) * 1000000 // SUM(n_base) AS BIGINT)
               AS tokens_per_base_ppm
    FROM denc GROUP BY lang ORDER BY lang
    """
    )


BPE_ENCODE_ORACLE = _bpe_encode_oracle()


@register_extra(
    "bpe_encode_report",
    BPE_ENCODE_ORACLE,
    description="Tokenizer lifecycle end-to-end: train BPE_MERGE_ROUNDS "
    "merges on the corpus, encode every document with them (merge list "
    "rides the plan as literal patterns — pure scan-side projection), "
    "report per-language token mass and compression (tokens per base "
    "symbol, floor-ppm). Oracle re-derives merges AND encoding in "
    "DuckDB. Registered r12 (ROADMAP r12 schedule — the free window "
    "slot; tokenizer_fertility_by_lang stays, it audits a different "
    "tokenizer).",
    tags=("tokenizer", "bpe", "encode"),
)
def bpe_encode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r12 (was STAGED since r10): the tokenizer lifecycle
    END TO END — train
    ``BPE_MERGE_ROUNDS`` merges on the corpus (bpe_train_merges), then
    ENCODE every document with them and report per-language token mass
    and compression (tokens per base symbol, floor-ppm). The trained
    merge list is a bounded fit artifact (R rows, the centroid
    discipline) that rides the encode plan as literal patterns, so the
    encode pass is a pure scan-side projection; the oracle re-derives
    the merges AND the encoding in DuckDB, putting training and
    application under one hash gate. The per-language fertility view is
    exactly what a tokenizer audit wants before committing to a vocab."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    merges = [
        (r.left_sym, r.right_sym)
        for r in TX.bpe_train_merges(docs).orderBy("round").collect()
    ]
    enc = TX.bpe_encode_stats(docs, merges)
    return (
        enc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_base_symbols").cast("long").alias("base_symbols"),
            F.sum("n_bpe_tokens").cast("long").alias("bpe_tokens"),
        )
        .withColumn(
            "tokens_per_base_ppm",
            F.expr("bpe_tokens * 1000000 div base_symbols").cast("long"),
        )
        .orderBy("lang")
    )


#: Oracle for :func:`url_canonical_dedup` (STAGED — see above). Both the
#: raw spelling and its canonical form are pure functions of the id; the
#: oracle builds the EXPECTED canonical string directly (it never runs a
#: canonicalizer), so scheme/host casefold, default-port strip, tracking-
#: param drop, query sort and fragment drop are pinned end-to-end.
URL_CANONICAL_ORACLE = """
    SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
           || '://WWW.Src' || CAST(doc_id % 7 AS VARCHAR) || '.Example'
           || (CASE doc_id % 3
               WHEN 0 THEN CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END
               WHEN 1 THEN ':8080' ELSE '' END)
           || '/A/b' || CAST(doc_id AS VARCHAR)
           || (CASE doc_id % 4
               WHEN 1 THEN '?utm_source=x&b=2&a=1'
               WHEN 2 THEN '?b=2&a=1'
               WHEN 3 THEN '?utm_campaign=z' ELSE '' END)
           || (CASE WHEN doc_id % 5 = 0 THEN '#sec?f=1' ELSE '' END)
               AS url_raw,
           (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
           || '://www.src' || CAST(doc_id % 7 AS VARCHAR) || '.example'
           || (CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END)
           || '/A/b' || CAST(doc_id AS VARCHAR)
           || (CASE WHEN doc_id % 4 IN (1, 2) THEN '?a=1&b=2' ELSE '' END)
               AS url_canonical
    FROM documents ORDER BY doc_id
"""


@register_extra(
    "url_canonical_dedup",
    URL_CANONICAL_ORACLE,
    description="URL canonicalization — the crawl-dedup step before "
    "content dedup: casefold scheme/host, strip userinfo + scheme-default "
    "ports + fragments (including fragments carrying the URL's first '?'), "
    "drop tracking params, sort surviving query params. Pure Column "
    "algebra (operators/urlops.canonical_url) — zero-exchange scan "
    "projection, no UDF; the oracle constructs the expected canonical "
    "strings directly from id formulas so the canonicalizer never runs "
    "on the oracle side.",
    tags=("crawl", "dedup", "url"),
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (registered at the r9 rotation) — the
    crawl-dedup step BEFORE content
    dedup. Raw spellings are generated scan-side from id formulas
    covering every variant class at once (uppercase scheme+host, default
    vs explicit vs absent port, tracking params mixed into permuted
    query order, fragments), canonicalized by the pure Column-algebra
    operators.urlops.canonical_url (no UDF, no shuffle), and compared to
    an oracle that constructs the expected canonical strings directly
    from the id — the canonicalizer itself never runs on the oracle
    side. At 100 TB this is a zero-exchange scan projection; the
    downstream URL-level dedup is then an ordinary hash groupBy on the
    canonical key."""
    from retail_aws_etl_pipeline_spark.operators.urlops import canonical_url

    t = load_tables(spark, sf_dir, ["documents"])
    raw = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://WWW.Src"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/A/b"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 4 == 1, F.lit("?utm_source=x&b=2&a=1"))
        .when(F.col("doc_id") % 4 == 2, F.lit("?b=2&a=1"))
        .when(F.col("doc_id") % 4 == 3, F.lit("?utm_campaign=z"))
        .otherwise(F.lit("")),
        # '#sec?f=1': the fragment carries a '?' so ids where the fragment
        # holds the URL's FIRST '?' (doc_id % 4 = 0 here) pin the ADVICE
        # r8 fix — fragment content must never be promoted into the query.
        F.when(F.col("doc_id") % 5 == 0, F.lit("#sec?f=1")).otherwise(F.lit("")),
    )
    return (
        t["documents"]
        .select("doc_id", raw.alias("url_raw"))
        .withColumn("url_canonical", canonical_url("url_raw"))
        .orderBy("doc_id")
    )


#: Oracle for :func:`crawl_host_report` (STAGED — see above). Per-host
#: aggregates over the extracted corpus, reconstructed purely from the id
#: formulas (each extracted doc is 'T{id} alpha beta {id} gamma' — 5
#: whitespace tokens).
CRAWL_HOST_ORACLE = """
    SELECT 'src' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length('T' || CAST(doc_id AS VARCHAR) || ' alpha beta '
               || CAST(doc_id AS VARCHAR) || ' gamma')) AS BIGINT) AS sum_chars,
           CAST(COUNT(*) * 5 AS BIGINT) AS n_tokens
    FROM documents
    WHERE doc_id % 4 <> 3 AND doc_id % 3 = 0
    GROUP BY 1 ORDER BY 1
"""


@register_extra(
    "crawl_host_report",
    CRAWL_HOST_ORACLE,
    description="Crawl observability rollup: WARC shards -> extracted "
    "documents -> per-host doc/char/token mass — the table a crawl "
    "curator reads before setting per-domain caps and mixture weights. "
    "One keyed aggregate (|hosts|-row reduce) over the scan-side "
    "extraction; oracle reconstructs every aggregate from id formulas.",
    tags=("crawl", "warc", "report"),
)
def crawl_host_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl observability rollup (registered at the r10 rotation
    per the ROADMAP schedule) — WARC shards → extracted
    documents → per-host doc/char/token mass, the table a crawl curator
    reads before deciding per-domain caps and mixture weights (the
    host-level twin of corpus_card). Chains the staged source end to
    end: synth shards, record framing, HTTP split, text extraction,
    host key from the canonicalized URL, one keyed aggregate. The
    oracle reconstructs every aggregate from the id formulas without
    touching WARC bytes."""
    from retail_aws_etl_pipeline_spark.operators.urlops import canonical_url
    from retail_aws_etl_pipeline_spark.sources.warc import (
        synth_warc_shards,
        warc_html_documents,
    )

    ids = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id")
    docs = warc_html_documents(synth_warc_shards(ids, "doc_id", html=True))
    return (
        docs.select(
            F.regexp_extract(canonical_url("url"), "://([^/]+)", 1).alias("host"),
            "n_chars",
            TX.token_count("text").alias("n_toks"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
        .orderBy("host")
    )


#: Body-duplicate class count for the crawl dedup corpus.
CRAWL_DUP_MOD = 17

#: Oracle for :func:`crawl_exact_dedup_stats` (STAGED — see above). The
#: duplicate structure is by construction (body text derives from
#: id % CRAWL_DUP_MOD while the URL keeps the full id), so every stat is
#: a formula over the eligible id set.
CRAWL_DEDUP_ORACLE = f"""
    WITH cd_docs AS (
        SELECT doc_id, doc_id % {CRAWL_DUP_MOD} AS body_class
        FROM documents WHERE doc_id % 4 <> 3 AND doc_id % 3 = 0
    ),
    cd_cls AS (
        SELECT body_class, COUNT(*) AS c FROM cd_docs GROUP BY body_class
    )
    SELECT CAST((SELECT COUNT(*) FROM cd_docs) AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(*) FROM cd_cls) AS BIGINT) AS n_distinct_texts,
           CAST((SELECT MAX(c) FROM cd_cls) AS BIGINT) AS max_dup_class,
           CAST((SELECT COUNT(*) FROM cd_docs d
                 WHERE d.doc_id = (SELECT MIN(doc_id) FROM cd_docs x
                                   WHERE x.body_class = d.body_class))
                AS BIGINT) AS n_retained
"""


@register_extra(
    "crawl_exact_dedup_stats",
    CRAWL_DEDUP_ORACLE,
    description="Crawl-level exact dedup end to end over constructed "
    "mirror structure (body text derives from id % 17 while the URL "
    "keeps the full id): raw count, distinct texts, largest mirror "
    "class, retained count == distinct (oracle-asserted). Content-keyed "
    "shuffle only — the retained check joins on the content key, never "
    "broadcasts survivors.",
    tags=("crawl", "warc", "dedup"),
)
def crawl_exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-level exact dedup end to end (registered at the r10
    rotation per the ROADMAP schedule) — the reason the
    pipeline exists. The synth corpus mirrors one page under many URLs
    (body text derives from id % {m} while the URL keeps the full id),
    extraction runs the real WARC chain, and dedup is the standard
    md5-groupBy keep-min-id: the audit row reports raw doc count,
    distinct texts, the largest mirror class, and the retained count
    (which must equal distinct texts — asserted by the oracle's
    independent reconstruction from the id formulas). At 100 TB this is
    one content-keyed shuffle, fed by the crawl source."""
    from retail_aws_etl_pipeline_spark.sources.warc import (
        synth_warc_shards,
        warc_html_documents,
    )

    ids = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id")
    docs = warc_html_documents(
        synth_warc_shards(ids, "doc_id", html=True, dup_mod=CRAWL_DUP_MOD)
    ).select("doc_id", F.md5("text").alias("h"))
    cls = docs.groupBy("h").agg(
        F.count(F.lit(1)).alias("c"), F.min("doc_id").alias("keep_id")
    )
    stats = [
        docs.agg(F.count(F.lit(1)).alias("n_docs")),
        cls.agg(
            F.count(F.lit(1)).alias("n_distinct_texts"),
            F.max("c").cast("long").alias("max_dup_class"),
        ),
        # Scale-correct retained count: join back on the CONTENT key (the
        # same shuffle key the class aggregate used — never a broadcast
        # of the per-class survivors, which is corpus-sized at 100 TB).
        docs.join(cls.select("h", "keep_id"), "h")
        .filter(F.col("doc_id") == F.col("keep_id"))
        .agg(F.count(F.lit(1)).alias("n_retained")),
    ]
    out = stats[0]
    for s in stats[1:]:
        out = out.crossJoin(F.broadcast(s))
    return out


#: Sitemap grouping factor (documents per synthesized sitemap file).
SITEMAP_GROUP = 25

#: Oracle for :func:`sitemap_url_inventory` (STAGED — see above). The
#: priorities are picked from LITERAL decimal strings in both engines
#: (never computed: 0.5 + k*0.1 in doubles is not the same bits as
#: parsing "0.7"), and lastmod is integer date arithmetic — so the whole
#: row hash-compares exactly.
SITEMAP_ORACLE = """
    SELECT doc_id,
           'http://src' || CAST(doc_id % 7 AS VARCHAR) || '.example/doc/'
               || CAST(doc_id AS VARCHAR) AS url,
           CAST(DATE '2026-01-01' + CAST(doc_id % 28 AS INT) AS DATE) AS lastmod,
           CAST(CASE doc_id % 5 WHEN 0 THEN 0.5 WHEN 1 THEN 0.6
                WHEN 2 THEN 0.7 WHEN 3 THEN 0.8 ELSE 0.9 END
                AS DOUBLE) AS priority
    FROM documents ORDER BY doc_id
"""


@register_extra(
    "sitemap_url_inventory",
    SITEMAP_ORACLE,
    description="Crawl-frontier sitemap ingestion: <urlset> XML parsed "
    "with from_xml, per-host URL inventory (counts, lastmod span, "
    "changefreq census) — the semi-structured parse surface next to "
    "the JSONL family.",
    tags=("crawl", "xml"),
)
def sitemap_url_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion via Spark 4's native XML surface — the
    crawl-frontier side of the WARC family (a crawler reads sitemaps to
    decide WHAT to fetch; the engine should parse them without a custom
    kernel). Synth side: <url> entries build scan-side from id formulas,
    group into one <urlset> document per SITEMAP_GROUP ids (entry order
    pinned by an array_sort on the collected structs — collect_list
    order is nondeterministic), and the parse side runs from_xml with a
    nested ARRAY<STRUCT> schema + explode: the full XML path (document
    assembly is the test harness; from_xml -> explode is the operator).
    DuckDB has no XML parser, so the oracle reconstructs the expected
    rows purely from the id formulas — which also means from_xml's
    STRING/DATE/DOUBLE field coercion is what is actually under test."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = F.col("doc_id")
    entry = F.concat(
        F.lit("<url><loc>http://src"),
        (d % 7).cast("string"),
        F.lit(".example/doc/"),
        d.cast("string"),
        F.lit("</loc><lastmod>"),
        F.date_format(F.date_add(F.lit("2026-01-01").cast("date"), (d % 28).cast("int")), "yyyy-MM-dd"),
        F.lit("</lastmod><priority>"),
        F.element_at(
            F.array(*[F.lit(s) for s in ("0.5", "0.6", "0.7", "0.8", "0.9")]),
            ((d % 5) + 1).cast("int"),
        ),
        F.lit("</priority></url>"),
    )
    sitemaps = (
        t["documents"]
        .select((d % SITEMAP_GROUP).alias("sm"), F.struct(d.alias("doc_id"), entry.alias("e")).alias("s"))
        .groupBy("sm")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(F.transform(F.array_sort(F.collect_list("s")), lambda x: x.e), ""),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    parsed = sitemaps.select(
        F.from_xml(
            "xml", "url ARRAY<STRUCT<loc: STRING, lastmod: DATE, priority: DOUBLE>>"
        ).alias("u")
    ).select(F.explode("u.url").alias("url_entry"))
    return parsed.select(
        F.regexp_extract("url_entry.loc", "/doc/([0-9]+)$", 1).cast("long").alias("doc_id"),
        F.col("url_entry.loc").alias("url"),
        F.col("url_entry.lastmod").alias("lastmod"),
        F.col("url_entry.priority").alias("priority"),
    ).orderBy("doc_id")


#: Oracle for :func:`sitemap_index_inventory` (STAGED). Everything
#: reconstructs from the id formulas; index-side lastmod is integer date
#: arithmetic on the GROUP id, so the two-level provenance columns
#: hash-compare exactly alongside the per-URL fields.
SITEMAP_INDEX_ORACLE = f"""
    SELECT doc_id,
           'http://src' || CAST(doc_id % 7 AS VARCHAR) || '.example/doc/'
               || CAST(doc_id AS VARCHAR) AS url,
           CAST(DATE '2026-01-01' + CAST(doc_id % 28 AS INT) AS DATE) AS lastmod,
           'http://hub.example/sitemaps/sm-'
               || CAST(doc_id % {SITEMAP_GROUP} AS VARCHAR) || '.xml' AS sitemap_loc,
           CAST(DATE '2026-02-01' + CAST(doc_id % {SITEMAP_GROUP} AS INT) AS DATE)
               AS index_lastmod
    FROM documents ORDER BY doc_id
"""


@register_extra(
    "sitemap_index_inventory",
    SITEMAP_INDEX_ORACLE,
    description="Two-level sitemap walk: <sitemapindex> children joined "
    "to their <urlset> payloads, per-child URL rollup — the recursive "
    "frontier-discovery step over the same from_xml surface.",
    tags=("crawl", "xml"),
)
def sitemap_index_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TWO-LEVEL sitemap walk — a <sitemapindex> names child
    sitemaps, each child is a <urlset>; real crawl frontiers start at the
    index (sites cap urlsets at 50k URLs, so any large site indexes its
    sitemaps). Both levels parse with Spark's native from_xml; the index
    is one tiny document, so the child join broadcasts it and the url
    explosion stays on the child side. Output carries full provenance —
    every URL row keeps which child sitemap listed it (sitemap_loc) and
    the index's lastmod for that child — the columns an incremental
    crawler filters on to skip unchanged children. The oracle
    reconstructs all five columns from the id formulas with no XML
    parser, so from_xml's nested coercion is what is under test at BOTH
    levels."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = F.col("doc_id")
    entry = F.concat(
        F.lit("<url><loc>http://src"),
        (d % 7).cast("string"),
        F.lit(".example/doc/"),
        d.cast("string"),
        F.lit("</loc><lastmod>"),
        F.date_format(F.date_add(F.lit("2026-01-01").cast("date"), (d % 28).cast("int")), "yyyy-MM-dd"),
        F.lit("</lastmod></url>"),
    )
    children = (
        t["documents"]
        .select((d % SITEMAP_GROUP).alias("sm"), F.struct(d.alias("doc_id"), entry.alias("e")).alias("s"))
        .groupBy("sm")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(F.transform(F.array_sort(F.collect_list("s")), lambda x: x.e), ""),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    child_loc = F.concat(
        F.lit("http://hub.example/sitemaps/sm-"), F.col("sm").cast("string"), F.lit(".xml")
    )
    idx_entry = F.concat(
        F.lit("<sitemap><loc>"),
        child_loc,
        F.lit("</loc><lastmod>"),
        F.date_format(
            F.date_add(F.lit("2026-02-01").cast("date"), F.col("sm").cast("int")),
            "yyyy-MM-dd",
        ),
        F.lit("</lastmod></sitemap>"),
    )
    index_xml = (
        children.select(F.struct(F.col("sm"), idx_entry.alias("e")).alias("s"))
        .agg(
            F.concat(
                F.lit("<sitemapindex>"),
                F.array_join(F.transform(F.array_sort(F.collect_list("s")), lambda x: x.e), ""),
                F.lit("</sitemapindex>"),
            ).alias("xml")
        )
    )
    index_rows = index_xml.select(
        F.from_xml("xml", "sitemap ARRAY<STRUCT<loc: STRING, lastmod: DATE>>").alias("i")
    ).select(F.explode("i.sitemap").alias("sm_entry")).select(
        F.col("sm_entry.loc").alias("sitemap_loc"),
        F.col("sm_entry.lastmod").alias("index_lastmod"),
        F.regexp_extract("sm_entry.loc", "/sm-([0-9]+)\\.xml$", 1).cast("long").alias("sm"),
    )
    joined = children.join(F.broadcast(index_rows), "sm")
    parsed = joined.select(
        "sitemap_loc",
        "index_lastmod",
        F.from_xml("xml", "url ARRAY<STRUCT<loc: STRING, lastmod: DATE>>").alias("u"),
    ).select("sitemap_loc", "index_lastmod", F.explode("u.url").alias("url_entry"))
    return parsed.select(
        F.regexp_extract("url_entry.loc", "/doc/([0-9]+)$", 1).cast("long").alias("doc_id"),
        F.col("url_entry.loc").alias("url"),
        F.col("url_entry.lastmod").alias("lastmod"),
        "sitemap_loc",
        "index_lastmod",
    ).orderBy("doc_id")


#: Oracle for :func:`host_boilerplate_strip_stats` (STAGED). The fixture
#: is fully formulaic, so the oracle rebuilds the expected POST-STRIP text
#: with string concatenation only: the per-host footer (on every page of
#: its host, DF ratio 1.0 > 0.5) must be stripped; the promo line
#: (~quarter of each host's pages, ratio < 0.5 for any corpus size) and
#: the unique content line must survive, in original order.
HOST_BOILERPLATE_ORACLE = """
    SELECT doc_id,
           'src' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
           'u ' || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 4 = 0
                       THEN chr(10) || 'promo src' || CAST(doc_id % 7 AS VARCHAR)
                       ELSE '' END AS text,
           CAST(2 + CAST(doc_id % 4 = 0 AS INT) AS BIGINT) AS n_lines,
           CAST(1 + CAST(doc_id % 4 = 0 AS INT) AS BIGINT) AS n_lines_kept
    FROM documents ORDER BY doc_id
"""


@register_extra(
    "host_boilerplate_strip_stats",
    HOST_BOILERPLATE_ORACLE,
    description="CCNet/Onion-style host-scoped boilerplate stripping: "
    "lines dropped when their within-host document frequency exceeds 0.5 "
    "(min-host-docs guarded), text reassembled in original line order — "
    "the pre-dedup crawl cleanup; one (host, line) keyed groupBy + join "
    "back, |hosts|-row broadcast totals, no windows. Oracle reconstructs "
    "the post-strip text purely from the fixture's id formulas.",
    tags=("crawl", "text", "dedup"),
)
def host_boilerplate_strip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/Onion-style host-scoped boilerplate stripping (registered at
    the r11 rotation per the ROADMAP schedule) — the
    line-level cleanup a crawl corpus needs BEFORE corpus-wide dedup
    (site chrome appears on most pages of its own site; stripping it by
    within-host line document-frequency needs no trained model). The
    fixture builds three line classes per doc scan-side: a unique
    content line ('u <id>'), a per-host footer on EVERY page (DF ratio
    1.0 — must be stripped at the 0.5 threshold), and a promo line on
    ~¼ of each host's pages (ratio < 0.5 — must survive). The operator
    computes the ratios itself; the oracle reconstructs the expected
    post-strip text purely from the id formulas, so the threshold
    semantics, the min-host-docs guard, and the order-pinned reassembly
    are all under the hash gate. Scale shape: one (host, line) keyed
    groupBy + join back, |hosts|-row broadcast totals, no windows."""
    from retail_aws_etl_pipeline_spark.operators.textops import (
        strip_host_boilerplate,
    )

    t = load_tables(spark, sf_dir, ["documents"])
    d = F.col("doc_id")
    host = F.concat(F.lit("src"), (d % 7).cast("string"), F.lit(".example"))
    text = F.concat(
        F.lit("u "),
        d.cast("string"),
        F.lit("\nfooter "),
        host,
        F.when(
            d % 4 == 0, F.concat(F.lit("\npromo src"), (d % 7).cast("string"))
        ).otherwise(F.lit("")),
    )
    docs = t["documents"].select(d.alias("doc_id"), host.alias("host"), text.alias("text"))
    return strip_host_boilerplate(docs).orderBy("doc_id")


#: Oracle for :func:`crawl_robots_audit` (STAGED — see above). Decisions
#: reconstruct from the id formulas: paths cycle no-rule / disallowed /
#: allowed-by-longer-Allow by id % 3.
ROBOTS_AUDIT_ORACLE = """
    SELECT doc_id,
           CAST(NOT (doc_id % 3 = 1 OR (doc_id % 3 = 0 AND doc_id % 10 = 7))
                AS BOOLEAN) AS allowed,
           CASE WHEN doc_id % 3 = 1 THEN 'Disallow'
                WHEN doc_id % 3 = 2 THEN 'Allow'
                WHEN doc_id % 3 = 0 AND doc_id % 10 = 7 THEN 'Disallow'
                END AS rule_verb,
           CASE WHEN doc_id % 3 = 1
                    THEN '/private' || CAST(doc_id % 7 AS VARCHAR) || '/'
                WHEN doc_id % 3 = 2
                    THEN '/private' || CAST(doc_id % 7 AS VARCHAR) || '/ok/'
                WHEN doc_id % 3 = 0 AND doc_id % 10 = 7 THEN '/doc/*7$'
                END AS rule_prefix
    FROM documents ORDER BY doc_id
"""


@register_extra(
    "crawl_robots_audit",
    ROBOTS_AUDIT_ORACLE,
    description="robots.txt fetch governance end to end: per-host rule "
    "parse (one split+explode over the broadcast-sized robots corpus), "
    "longest-match prefix decision with Allow-wins-ties, host keys "
    "normalized like canonical_url's authority (lowercase, no userinfo, "
    "no default port) so spelling variants never fail open. Rules "
    "broadcast by host; the URL corpus never shuffles. The oracle "
    "reconstructs every decision class from id formulas with no rule "
    "engine at all.",
    tags=("crawl", "governance", "url"),
)
def crawl_robots_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt fetch-governance end to end (registered at the r9
    rotation) — the third leg of
    the crawl family (sitemaps say what COULD be fetched, robots what
    MAY be, WARC what WAS). Per-host robots documents and the URL
    corpus both derive from id formulas so every decision class is
    exercised — a path no rule matches (allowed, NULL rule), a
    Disallow-matched path, a path where a LONGER Allow overrides
    the matching Disallow (the longest-match rule the operator
    implements), and a WILDCARD class: every host carries
    ``Disallow: /doc/*7$`` so /doc/ URLs whose id ends in 7 are blocked
    by '*'-spanning + '$'-anchored matching (RFC 9309 semantics, r9).
    The oracle reconstructs decisions with no rule engine at all. The
    rules join is a broadcast by host; the URL corpus never shuffles."""
    from retail_aws_etl_pipeline_spark.operators.urlops import robots_decisions

    t = load_tables(spark, sf_dir, ["documents"])
    d = F.col("doc_id")
    k = (d % 7).cast("string")
    # Host spelling varies independently of the decision class (ADVICE r8
    # fix pinned under the driver row): even ids spell the host uppercase,
    # ids % 5 == 0 carry the explicit default :80 — both must still match
    # the lowercase bare-host robots key.
    urls = t["documents"].select(
        d.alias("doc_id"),
        F.concat(
            F.lit("http://"),
            F.when(d % 2 == 0, F.concat(F.lit("SRC"), k, F.lit(".EXAMPLE")))
            .otherwise(F.concat(F.lit("src"), k, F.lit(".example"))),
            F.when(d % 5 == 0, F.lit(":80")).otherwise(F.lit("")),
            F.when(d % 3 == 0, F.concat(F.lit("/doc/"), d.cast("string")))
            .when(d % 3 == 1, F.concat(F.lit("/private"), k, F.lit("/x"), d.cast("string")))
            .otherwise(F.concat(F.lit("/private"), k, F.lit("/ok/x"), d.cast("string"))),
        ).alias("url"),
    )
    hosts = spark.range(7).select(
        F.concat(F.lit("src"), F.col("id").cast("string"), F.lit(".example")).alias("host"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /private"), F.col("id").cast("string"),
            F.lit("/\nAllow: /private"), F.col("id").cast("string"), F.lit("/ok/"),
            F.lit("\nDisallow: /doc/*7$"),
        ).alias("robots_txt"),
    )
    dec = robots_decisions(urls.select("url"), hosts)
    return (
        urls.join(dec, "url")
        .select("doc_id", "allowed", "rule_verb", "rule_prefix")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# STAGED r11 additions: the Gopher REPETITION battery and ExactSubstr-style
# duplicated-span extraction (registration queues behind the r12 tranche —
# COVERAGE.md staged table is canonical).
# ---------------------------------------------------------------------------


def _gopher_repetition_oracle() -> str:
    """Oracle for :func:`gopher_repetition_report` (STAGED). The whole
    battery re-derived relationally: one occurrence table for lines,
    paragraphs and all nine n-gram sizes; duplicate line/paragraph extras
    via HAVING cnt >= 2; top n-grams via a (cnt DESC, item ASC) window
    rank; duplicate-n-gram character coverage via the classic
    gaps-and-islands interval merge (islands split where a window's
    running MAX(prev end) is exceeded — the same overlap-only rule as
    dedup.merge_token_intervals, so token-adjacent spans stay separate)
    and chars recomputed from the token slice of each merged island."""
    tx = TX
    top_ns = ", ".join(map(str, tx.GOPHER_REP_TOP_NGRAM))
    dup_ns = ", ".join(map(str, tx.GOPHER_REP_DUP_NGRAM))
    all_ns = ", ".join(map(str, (*tx.GOPHER_REP_TOP_NGRAM, *tx.GOPHER_REP_DUP_NGRAM)))
    top_cols = ",\n           ".join(
        f"COALESCE(MAX(CASE WHEN n = {n} THEN chars END), 0) AS top{n}_chars"
        for n in tx.GOPHER_REP_TOP_NGRAM
    )
    dup_cols = ",\n           ".join(
        f"COALESCE(MAX(CASE WHEN n = {n} THEN chars END), 0) AS dup{n}_chars"
        for n in tx.GOPHER_REP_DUP_NGRAM
    )
    flag_exprs = {
        "dup_line_ok": f"dup_line_extra * {tx.GOPHER_REP_DUP_LINE[1]}"
        f" <= n_lines * {tx.GOPHER_REP_DUP_LINE[0]}",
        "dup_para_ok": f"dup_para_extra * {tx.GOPHER_REP_DUP_PARA[1]}"
        f" <= n_paras * {tx.GOPHER_REP_DUP_PARA[0]}",
        "dup_line_char_ok": f"dup_line_chars * {tx.GOPHER_REP_DUP_LINE_CHAR[1]}"
        f" <= n_chars * {tx.GOPHER_REP_DUP_LINE_CHAR[0]}",
        "dup_para_char_ok": f"dup_para_chars * {tx.GOPHER_REP_DUP_PARA_CHAR[1]}"
        f" <= n_chars * {tx.GOPHER_REP_DUP_PARA_CHAR[0]}",
        **{
            f"top{n}_ok": f"top{n}_chars * {den} <= n_chars * {num}"
            for n, (num, den) in tx.GOPHER_REP_TOP_NGRAM.items()
        },
        **{
            f"dup{n}_ok": f"dup{n}_chars * {den} <= n_chars * {num}"
            for n, (num, den) in tx.GOPHER_REP_DUP_NGRAM.items()
        },
    }
    flag_cols = ",\n           ".join(
        f"({e}) AS {name}" for name, e in flag_exprs.items()
    )
    composite = " AND ".join(f"({e})" for e in flag_exprs.values())
    return f"""
    WITH rp_t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               CAST(length(text) AS BIGINT) AS n_chars,
               list_filter(string_split(text, chr(10)), x -> x <> '') AS lines,
               list_filter(string_split(text, chr(10) || chr(10)), x -> x <> '') AS paras
        FROM documents
    ),
    rp_lp AS (
        SELECT doc_id, kind, item, COUNT(*) AS cnt
        FROM (
            SELECT doc_id, 0 AS kind, UNNEST(lines) AS item FROM rp_t
            UNION ALL
            SELECT doc_id, 1 AS kind, UNNEST(paras) AS item FROM rp_t
        ) GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
    ),
    rp_lp_agg AS (
        SELECT doc_id,
               COALESCE(SUM(CASE WHEN kind = 0 THEN cnt - 1 END), 0) AS dup_line_extra,
               COALESCE(SUM(CASE WHEN kind = 0 THEN (cnt - 1) * length(item) END), 0)
                   AS dup_line_chars,
               COALESCE(SUM(CASE WHEN kind = 1 THEN cnt - 1 END), 0) AS dup_para_extra,
               COALESCE(SUM(CASE WHEN kind = 1 THEN (cnt - 1) * length(item) END), 0)
                   AS dup_para_chars
        FROM rp_lp GROUP BY doc_id
    ),
    rp_occ AS (
        SELECT doc_id, n, pos,
               array_to_string(toks[pos:pos + n - 1], ' ') AS item
        FROM (
            SELECT doc_id, toks, n.n AS n,
                   UNNEST(generate_series(1, len(toks) - n.n + 1)) AS pos
            FROM rp_t, (SELECT UNNEST([{all_ns}]) AS n) n
        )
    ),
    rp_cnt AS (
        SELECT doc_id, n, item, COUNT(*) AS cnt
        FROM rp_occ GROUP BY 1, 2, 3
    ),
    rp_top AS (
        SELECT doc_id, n, cnt * length(item) AS chars
        FROM (
            SELECT doc_id, n, item, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                      ORDER BY cnt DESC, item ASC) AS rk
            FROM rp_cnt WHERE n IN ({top_ns}) AND cnt >= 2
        ) WHERE rk = 1
    ),
    rp_top_agg AS (
        SELECT doc_id, {top_cols}
        FROM rp_top GROUP BY doc_id
    ),
    rp_dpos AS (
        SELECT o.doc_id, o.n, o.pos AS a, o.pos + o.n - 1 AS b
        FROM rp_occ o
        JOIN rp_cnt c ON c.doc_id = o.doc_id AND c.n = o.n AND c.item = o.item
        WHERE o.n IN ({dup_ns}) AND c.cnt >= 2
    ),
    rp_isl AS (
        SELECT doc_id, n, a, b,
               CASE WHEN a <= MAX(b) OVER (
                        PARTITION BY doc_id, n ORDER BY a, b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 0 ELSE 1 END AS newisl
        FROM rp_dpos
    ),
    rp_isl2 AS (
        SELECT doc_id, n, a, b,
               SUM(newisl) OVER (PARTITION BY doc_id, n ORDER BY a, b
                                 ROWS UNBOUNDED PRECEDING) AS island
        FROM rp_isl
    ),
    rp_merged AS (
        SELECT doc_id, n, MIN(a) AS a, MAX(b) AS b
        FROM rp_isl2 GROUP BY doc_id, n, island
    ),
    rp_dup AS (
        SELECT m.doc_id, m.n,
               SUM(length(array_to_string(t.toks[m.a:m.b], ' '))) AS chars
        FROM rp_merged m JOIN rp_t t ON t.doc_id = m.doc_id
        GROUP BY 1, 2
    ),
    rp_dup_agg AS (
        SELECT doc_id, {dup_cols}
        FROM rp_dup GROUP BY doc_id
    ),
    rp_all AS (
        SELECT t.doc_id, t.n_chars,
               CAST(len(t.lines) AS BIGINT) AS n_lines,
               CAST(len(t.paras) AS BIGINT) AS n_paras,
               CAST(COALESCE(lp.dup_line_extra, 0) AS BIGINT) AS dup_line_extra,
               CAST(COALESCE(lp.dup_line_chars, 0) AS BIGINT) AS dup_line_chars,
               CAST(COALESCE(lp.dup_para_extra, 0) AS BIGINT) AS dup_para_extra,
               CAST(COALESCE(lp.dup_para_chars, 0) AS BIGINT) AS dup_para_chars,
               {", ".join(f"CAST(COALESCE(tp.top{n}_chars, 0) AS BIGINT) AS top{n}_chars" for n in tx.GOPHER_REP_TOP_NGRAM)},
               {", ".join(f"CAST(COALESCE(dp.dup{n}_chars, 0) AS BIGINT) AS dup{n}_chars" for n in tx.GOPHER_REP_DUP_NGRAM)}
        FROM rp_t t
        LEFT JOIN rp_lp_agg lp ON lp.doc_id = t.doc_id
        LEFT JOIN rp_top_agg tp ON tp.doc_id = t.doc_id
        LEFT JOIN rp_dup_agg dp ON dp.doc_id = t.doc_id
    )
    SELECT *,
           {flag_cols},
           ({composite}) AS repetition_pass
    FROM rp_all ORDER BY doc_id
    """


GOPHER_REPETITION_ORACLE = _gopher_repetition_oracle()


@register_extra(
    "gopher_repetition_report",
    GOPHER_REPETITION_ORACLE,
    description="Gopher repetition-removal battery (Rae et al. 2021 "
    "A1.1): duplicate line/paragraph fractions (count + character), "
    "top-{2,3,4}-gram char fractions, duplicate-{5..10}-gram char "
    "coverage with interval-union char counting — integer evidence, "
    "cross-multiplied thresholds, one explode + one (doc,kind,item) "
    "groupBy; nothing quadratic in doc length.",
    tags=("llm", "quality", "curation"),
)
def gopher_repetition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher REPETITION-removal battery (Rae et al. 2021,
    appendix A1.1 — the other half of gopher_quality_report): duplicate
    line / paragraph fractions (count and character), top-{2,3,4}-gram
    character fractions, and duplicate-{5..10}-gram character coverage
    with every character counted ONCE (token-interval union via the
    shared merge kernel). All evidence integer, all thresholds
    cross-multiplied, keep-at-threshold boundary semantics matching the
    quality battery. Scale: one explode + one (doc, kind, item) groupBy
    + per-doc O(n) folds — the shingle family's exchange shape; nothing
    quadratic in document length, no windows over raw rows."""
    t = load_tables(spark, sf_dir, ["documents"])
    return TX.gopher_repetition_flags(t["documents"]).orderBy("doc_id")


def _dup_span_oracle() -> str:
    """Oracle for :func:`duplicated_span_report` (STAGED): the stride-1
    window explode, corpus-wide occurrence counts, and the same
    gaps-and-islands interval merge, all relational."""
    w = D.EXSUB_WINDOW
    return f"""
    WITH ds_t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    ds_w AS (
        SELECT doc_id, pos,
               array_to_string(toks[pos:pos + {w} - 1], ' ') AS win
        FROM (
            SELECT doc_id, toks,
                   UNNEST(generate_series(1, len(toks) - {w} + 1)) AS pos
            FROM ds_t
        )
    ),
    ds_c AS (SELECT win, COUNT(*) AS cnt FROM ds_w GROUP BY win),
    ds_d AS (
        SELECT w.doc_id, w.pos AS a, w.pos + {w} - 1 AS b
        FROM ds_w w JOIN ds_c c ON c.win = w.win WHERE c.cnt >= 2
    ),
    ds_isl AS (
        SELECT doc_id, a, b,
               CASE WHEN a <= MAX(b) OVER (
                        PARTITION BY doc_id ORDER BY a, b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 0 ELSE 1 END AS newisl
        FROM ds_d
    ),
    ds_isl2 AS (
        SELECT doc_id, a, b,
               SUM(newisl) OVER (PARTITION BY doc_id ORDER BY a, b
                                 ROWS UNBOUNDED PRECEDING) AS island
        FROM ds_isl
    ),
    ds_m AS (
        SELECT doc_id, MIN(a) AS a, MAX(b) AS b
        FROM ds_isl2 GROUP BY doc_id, island
    ),
    ds_stats AS (
        SELECT m.doc_id,
               COUNT(*) AS n_dup_spans,
               SUM(m.b - m.a + 1) AS dup_tokens,
               SUM(length(array_to_string(t.toks[m.a:m.b], ' '))) AS dup_chars,
               MAX(m.b - m.a + 1) AS longest_span_tokens
        FROM ds_m m JOIN ds_t t ON t.doc_id = m.doc_id
        GROUP BY m.doc_id
    ),
    ds_dw AS (
        SELECT doc_id, COUNT(*) AS n_dup_windows FROM ds_d GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(greatest(len(t.toks) - {w} + 1, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(dw.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(s.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(s.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(COALESCE(s.dup_chars, 0) AS BIGINT) AS dup_chars,
           CAST(COALESCE(s.longest_span_tokens, 0) AS BIGINT) AS longest_span_tokens
    FROM ds_t t
    LEFT JOIN ds_stats s ON s.doc_id = t.doc_id
    LEFT JOIN ds_dw dw ON dw.doc_id = t.doc_id
    ORDER BY t.doc_id
    """


DUP_SPAN_ORACLE = _dup_span_oracle()


@register_extra(
    "duplicated_span_report",
    DUP_SPAN_ORACLE,
    description="ExactSubstr-style duplicated spans (Lee et al. 2022): "
    "every stride-1 window occurring >=2 times anywhere marks its token "
    "interval; overlapping marks merge into maximal per-doc spans — the "
    "suffix-array result as windows + interval union. One content-keyed "
    "groupBy, per-doc O(n) merge fold, no windows over raw rows.",
    tags=("llm", "dedup"),
)
def duplicated_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span extraction (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    every stride-1 {w}-token window occurring >= 2 times ANYWHERE in the
    corpus marks its token interval; overlapping marks merge into
    maximal duplicated spans per document. Unlike the stride-w chunk
    dedup family (cdc_chunk_dedup), a repeated
    passage is detected at EVERY alignment — the suffix-array result
    re-expressed as windows + interval union, the missing member of the
    dedup family's exactness ladder (exact doc -> aligned chunk ->
    shift-resistant chunk -> maximal span). One content-keyed groupBy,
    per-doc O(n) merge fold, no windows, no collects."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return D.duplicated_span_stats(docs).orderBy("doc_id")


#: The C4 page gate over the page-metric CTE's columns — shared verbatim.
_C4_PAGE_KEPT_SQL = (
    "(NOT has_lorem AND NOT has_brace"
    f" AND n_sentences >= {TX.C4_MIN_SENTENCES})"
)


def _c4_oracle() -> str:
    """Oracle for :func:`c4_clean_report`: the identical line
    lambda in DuckDB list algebra; sentences counted by terminal-marker
    characters of the kept-line join; page gates recomputed from raw.
    Built from the shared fragments above (r15 factoring; semantics
    unchanged)."""
    term = " OR ".join(f"ends_with(l, '{e}')" for e in TX.C4_TERMINALS)
    keep = (
        f"l -> ({term}) AND len(string_split(l, ' ')) >= {TX.C4_MIN_LINE_WORDS}"
        " AND NOT contains(lower(l), 'javascript')"
    )
    return f"""
    WITH c4 AS (
        SELECT doc_id,
               string_split(text, chr(10)) AS lines,
               list_filter(string_split(text, chr(10)), {keep}) AS kept,
               contains(lower(text), 'lorem ipsum') AS has_lorem,
               contains(text, chr(123)) AS has_brace
        FROM documents
    ),
    c4b AS (
        SELECT doc_id,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(kept) AS BIGINT) AS n_kept_lines,
               -- DuckDB array_to_string([]) is NULL (Spark: '')
               COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
               CAST(length(COALESCE(array_to_string(kept, chr(10)), ''))
                    - length(translate(
                          COALESCE(array_to_string(kept, chr(10)), ''),
                          '.!?', ''))
                    AS BIGINT) AS n_sentences,
               has_lorem, has_brace
        FROM c4
    )
    SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_lorem, has_brace,
           clean_text,
           {_C4_PAGE_KEPT_SQL} AS page_kept
    FROM c4b ORDER BY doc_id
    """


C4_CLEAN_ORACLE = _c4_oracle()


@register_extra(
    "c4_clean_report",
    C4_CLEAN_ORACLE,
    description="C4 cleanup battery (Raffel et al. 2020 section 2.2): "
    "terminal-punct / min-words / javascript line retention, lorem-ipsum "
    "+ curly-brace page gates, min-sentence gate, and the reconstructed "
    "clean_text — all under one hash gate; pure scan-side projection "
    "(no shuffle beyond the presentation sort, no UDF).",
    tags=("llm", "quality", "curation"),
)
def c4_clean_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleanup battery (Raffel et al. 2020 §2.2) — the
    canonical crawl cleanup pipeline: terminal-punctuation / min-words /
    javascript line retention, lorem-ipsum and curly-brace page gates,
    min-sentence page gate, and the cleaned text itself (kept lines in
    original order) — all under one hash gate including the
    reconstructed clean_text. Pure scan-side projection (no shuffle
    except the presentation sort, no UDF): the free-rider shape — at
    100 TB this rides whatever scan feeds the curation funnel, same as
    gopher_quality_report. Completes the rule-battery trio: C4 (line
    retention) -> Gopher quality (doc gates) -> Gopher repetition
    (within-doc dup gates)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        TX.c4_clean_flags(t["documents"])
        .select(
            "doc_id", "n_lines", "n_kept_lines", "n_sentences",
            "has_lorem", "has_brace", "clean_text", "page_kept",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# STAGED r13+ tranche: quality-aware dedup retention, the Kneser-Ney
# bigram table, and the token-budget shard manifest. Registration follows
# the COVERAGE.md §rotation cap policy; full local proof lives in
# tests/test_staged_r13.py.
# ---------------------------------------------------------------------------


def _quality_retained_oracle() -> str:
    """Oracle for :func:`dedup_retained_by_quality` (STAGED): the same
    recursive-CTE connected components as _RETAINED_CORPUS_ORACLE, with
    survivor selection switched from the min-id label artifact to the
    argmax of the integer quality key (``distinct_tokens * SCALE div
    tokens`` — the token_budget_select key), ties to the smallest id."""
    from retail_aws_etl_pipeline_spark.operators.sampling import QUALITY_SCALE

    return f"""
    WITH RECURSIVE {GRAMS_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    prs AS (
        SELECT cm.id_a, cm.id_b
        FROM common cm
        JOIN sizes sa ON sa.doc_id = cm.id_a
        JOIN sizes sb ON sb.doc_id = cm.id_b
        WHERE cm.common * 5 >= (sa.n + sb.n - cm.common)
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM prs
        UNION ALL SELECT id_b, id_a FROM prs
    ),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
    csize AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM comp GROUP BY cluster_id
    ),
    qual AS (
        SELECT doc_id,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   * {QUALITY_SCALE}
                   // CAST(len(string_split(text, ' ')) AS BIGINT) AS quality
        FROM documents
    ),
    ranked AS (
        SELECT c.cluster_id AS label, q.doc_id, q.quality,
               ROW_NUMBER() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY q.quality DESC, q.doc_id
               ) AS rn
        FROM comp c JOIN qual q ON q.doc_id = c.doc_id
    )
    SELECT r.label, r.doc_id, r.quality, s.cluster_size, d.lang, d.source
    FROM ranked r
    JOIN csize s ON s.cluster_id = r.label
    JOIN documents d ON d.doc_id = r.doc_id
    WHERE r.rn = 1
    ORDER BY r.label
    """


DEDUP_QUALITY_RETAINED_ORACLE = _quality_retained_oracle()


@register_extra(
    "dedup_retained_by_quality",
    DEDUP_QUALITY_RETAINED_ORACLE,
    description="Quality-aware near-dup survivor selection (RefinedWeb/"
    "CCNet-style keep-the-best): survivor = argmax of the integer "
    "lexical-diversity quality key per component, ties to smallest id — "
    "one groupBy(label) min(struct) buffer, no window, no rank "
    "join-back; same banded near-dup graph as dedup_retained_corpus.",
    tags=("llm", "dedup", "curation"),
)
def dedup_retained_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection — the production form of
    dedup retention. dedup_retained_corpus keeps the min-id member of
    each near-dup component because the min-id IS the component label (a
    free filter); real pipelines keep the BEST member (RefinedWeb keeps
    the longest, CCNet the lowest-perplexity copy), because duplicate
    clusters mix a clean original with truncated or boilerplate-wrapped
    mirrors. Survivor = argmax of the integer lexical-diversity quality
    key (the token_budget_select sort key), ties to the smallest id —
    one groupBy(label) min(struct(-quality, id)) buffer via
    D.quality_survivors, no window, no rank join-back. Same banded
    near-dup graph as the retained-corpus query; only selection differs.
    """
    from retail_aws_etl_pipeline_spark.operators.sampling import QUALITY_SCALE

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    grams = D.shingles(docs).persist()
    counts = D.jaccard_counts(grams)
    pairs = counts.filter(
        F.col("common") * 5 >= (F.col("n_a") + F.col("n_b") - F.col("common"))
    ).select("id_a", "id_b")
    comp = D.connected_components(pairs, docs.select("doc_id"))
    scored = docs.select(
        "doc_id",
        F.expr(
            # BIGINT cast before the multiply (ADVICE r11): size() is INT
            # and the int32 product wraps at >2147 distinct tokens while
            # the oracle multiplies in BIGINT — a wrapped quality would
            # silently flip the dedup survivor.
            f"CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
            f" * {QUALITY_SCALE} div CAST(size(split(text, ' ')) AS BIGINT)"
        ).alias("quality"),
    )
    surv = D.quality_survivors(comp, scored)
    out = (
        surv.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .select("label", "doc_id", "quality", "cluster_size", "lang", "source")
        .orderBy("label")
    )
    return out


#: Top-N bigrams emitted by ngram_lm_report (count-desc, lexicographic
#: tiebreak — a total order, (tok_a, tok_b) is unique in the table).
KN_TOP_N = 50


def _kn_bigram_oracle() -> str:
    """Oracle for :func:`ngram_lm_report` (STAGED): the identical four
    count layers + fixed-point Kneser-Ney arithmetic in DuckDB. Pair
    positions are generated from the ACTUAL token count per row (lateral
    UNNEST — the ADVICE r10 lesson: a literal position cap silently
    drops pairs on long documents)."""
    from retail_aws_etl_pipeline_spark.operators.textops import KN_SCALE

    return f"""
    WITH kt AS (SELECT string_split(text, ' ') AS t FROM documents),
    kp AS (
        SELECT t[i] AS tok_a, t[i + 1] AS tok_b
        FROM (SELECT t, UNNEST(generate_series(1, len(t) - 1)) AS i
              FROM kt WHERE len(t) >= 2)
    ),
    bg AS (
        SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS c
        FROM kp GROUP BY tok_a, tok_b
    ),
    pre AS (
        SELECT tok_a, CAST(SUM(c) AS BIGINT) AS c_prefix,
               CAST(COUNT(*) AS BIGINT) AS n_followers
        FROM bg GROUP BY tok_a
    ),
    lft AS (
        SELECT tok_b, CAST(COUNT(*) AS BIGINT) AS n_left FROM bg GROUP BY tok_b
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bigram_types,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM bg
    ),
    gd AS (
        SELECT n_bigram_types,
               CAST(CASE WHEN n1 + 2 * n2 = 0 THEN 0
                    ELSE n1 * {KN_SCALE} // (n1 + 2 * n2) END AS BIGINT) AS d_ppm
        FROM g
    )
    SELECT b.tok_a, b.tok_b, b.c, p.c_prefix, p.n_followers, l.n_left,
           gd.d_ppm,
           CAST(GREATEST(b.c * {KN_SCALE} - gd.d_ppm, 0) // p.c_prefix
                AS BIGINT) AS p1_ppm,
           CAST(gd.d_ppm * p.n_followers // p.c_prefix AS BIGINT) AS lambda_ppm,
           CAST(l.n_left * {KN_SCALE} // gd.n_bigram_types AS BIGINT) AS pcont_ppm,
           CAST(GREATEST(b.c * {KN_SCALE} - gd.d_ppm, 0) // p.c_prefix
                + (gd.d_ppm * p.n_followers // p.c_prefix)
                  * (l.n_left * {KN_SCALE} // gd.n_bigram_types) // {KN_SCALE}
                AS BIGINT) AS p_kn_ppm
    FROM bg b
    JOIN pre p ON p.tok_a = b.tok_a
    JOIN lft l ON l.tok_b = b.tok_b, gd
    ORDER BY b.c DESC, b.tok_a, b.tok_b
    LIMIT {KN_TOP_N}
    """


KN_BIGRAM_ORACLE = _kn_bigram_oracle()


@register_extra(
    "ngram_lm_report",
    KN_BIGRAM_ORACLE,
    description="Kneser-Ney bigram table (the KenLM count pass CCNet-"
    "style perplexity filters train on): top-N bigrams with all four KN "
    "count layers, the count-of-counts discount, and the interpolated "
    "probability — every term ppm-quantized int64 floor-division so the "
    "hash gate pins the smoothing arithmetic. ONE corpus-wide exchange "
    "(the bigram groupBy, persisted); marginals join on vocab-scale "
    "frames; the discount row broadcasts.",
    tags=("llm", "text"),
)
def ngram_lm_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed count pass of n-gram language-model
    training (the KenLM/SRILM step perplexity-filter pipelines run
    before training — CCNet filters on exactly such a model). Emits the
    top-{n} bigrams with all four Kneser-Ney count layers (bigram count,
    left marginal, distinct-follower and continuation counts), the
    global count-of-counts discount, and the interpolated KN probability
    — every smoothing term quantized to ppm int64 floor-divisions so the
    hash gate pins the arithmetic bit-for-bit (see
    TX.kn_bigram_table). Scale shape: ONE corpus-wide exchange (the
    bigram groupBy, persisted for its four consumers); the marginal /
    continuation layers and joins run on the vocab-scale count frame;
    the count-of-counts row broadcasts. Distinct from collocation_pairs
    (lift ranking for phrase mining) — this computes the smoothing
    machinery an LM needs."""

    t = load_tables(spark, sf_dir, ["documents"])
    tab = TX.kn_bigram_table(t["documents"])
    return tab.orderBy(F.desc("c"), "tok_a", "tok_b").limit(KN_TOP_N)


def _shard_manifest_oracle() -> str:
    """Oracle for :func:`training_shard_manifest` (STAGED): the global
    epoch-order exclusive prefix sum as one SQL window, shard id by
    floor division, manifest via keyed sub-aggregates."""
    from retail_aws_etl_pipeline_spark.operators.sampling import (
        SHARD_CAPACITY,
        SHARD_SALT,
    )

    return f"""
    WITH shd AS (
        SELECT doc_id, lang, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
               md5(CAST(doc_id AS VARCHAR) || ':{SHARD_SALT}') AS k
        FROM documents
    ),
    shc AS (
        SELECT *,
               CAST(COALESCE(SUM(n_toks) OVER (
                   ORDER BY k, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_excl
        FROM shd
    ),
    sha AS (
        SELECT *, CAST(cum_excl // {SHARD_CAPACITY} AS BIGINT) AS shard_id
        FROM shc
    ),
    shl AS (
        SELECT shard_id, CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        FROM sha GROUP BY shard_id
    ),
    shs AS (
        SELECT shard_id, CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM sha GROUP BY shard_id
    ),
    shg AS (
        SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
               CAST(MAX(n_toks) AS BIGINT) AS max_doc_tokens
        FROM sha GROUP BY shard_id
    )
    SELECT g.shard_id, g.n_docs, g.n_tokens, l.n_langs, s.n_sources,
           g.max_doc_tokens
    FROM shg g
    JOIN shl l ON l.shard_id = g.shard_id
    JOIN shs s ON s.shard_id = g.shard_id
    ORDER BY g.shard_id
    """


SHARD_MANIFEST_ORACLE = _shard_manifest_oracle()


@register_extra(
    "training_shard_manifest",
    SHARD_MANIFEST_ORACLE,
    description="Training-export shard manifest: deterministic token-"
    "budget shard assignment (epoch-shuffle order, distributed cumsum, "
    "no global window) rolled up per shard into doc count, token mass, "
    "lang/source mixing and largest doc — replay-idempotent "
    "(md5(doc_id||salt) order) so retried exports reproduce byte-stable "
    "shard boundaries; Expand-free distinct counts.",
    tags=("llm", "batching"),
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The writer's last mile — deterministic token-budget shard
    assignment (SMP.shard_assignment: epoch-shuffle order, document
    belongs to the shard containing its first token, distributed cumsum
    — no global window) rolled up into the shard MANIFEST a dataloader
    consumes: per shard, doc count, token mass, lang/source mixing, and
    the largest single document. Replay-idempotent by construction
    (md5(doc_id||salt) order), so a retried export reproduces byte-stable
    shard boundaries — the property that makes shard files safe to
    overwrite under at-least-once execution. Distinct counts via keyed
    sub-aggregates (the corpus_shuffle_batches Expand-free discipline).
    """
    from retail_aws_etl_pipeline_spark.operators import sampling as SMP

    t = load_tables(spark, sf_dir, ["documents"])
    asg = SMP.shard_assignment(t["documents"]).persist()
    g = asg.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.max("n_toks").cast("long").alias("max_doc_tokens"),
    )
    # NULLs filtered before the keyed sub-aggregate (ADVICE r11): the
    # groupBy row-count trick would count a NULL lang/source as one more
    # distinct value, while the oracle's COUNT(DISTINCT ...) ignores
    # NULLs — SQL semantics win.
    langs = (
        asg.filter(F.col("lang").isNotNull())
        .groupBy("shard_id", "lang")
        .agg(F.count(F.lit(1)).alias("cl"))
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_langs"))
    )
    srcs = (
        asg.filter(F.col("source").isNotNull())
        .groupBy("shard_id", "source")
        .agg(F.count(F.lit(1)).alias("cs"))
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sources"))
    )

    # LEFT joins + 0-coalesce: a shard whose langs/sources are ALL NULL
    # has no keyed sub-aggregate row, and COUNT(DISTINCT) over all-NULL
    # is 0, not a dropped shard.
    out = (
        g.join(langs, "shard_id", "left")
        .join(srcs, "shard_id", "left")
        .select(
            "shard_id",
            "n_docs",
            "n_tokens",
            F.coalesce("n_langs", F.lit(0)).cast("long").alias("n_langs"),
            F.coalesce("n_sources", F.lit(0)).cast("long").alias("n_sources"),
            "max_doc_tokens",
        )
        .orderBy("shard_id")
    )
    return out


def _perceptron_oracle() -> str:
    """Oracle for :func:`quality_classifier_report` (STAGED): the full
    fixed-schedule batch-perceptron training unrolled in SQL — the
    kmeans/BPE discipline. Round 1 updates on every document (w0 = 0
    puts every margin at 0, and 0 counts as misclassified); each later
    round joins the corpus feature frame to the previous round's weight
    table. A hash match pins tokenization, feature hashing, every
    per-round error census, and the exact integer weight evolution."""
    from retail_aws_etl_pipeline_spark.operators import sampling as SMP

    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"

    bucket = (
        f"({nib(1)} * 4096 + {nib(2)} * 256 + {nib(3)} * 16 + {nib(4)})"
        f" % {SMP.DSIR_BUCKETS}"
    )
    ctes = [
        "pdocs AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END"
        " AS y FROM documents)",
        "pw AS (SELECT d.doc_id, d.y, md5(t.w) AS h FROM pdocs d JOIN ("
        "SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents"
        ") t ON t.doc_id = d.doc_id)",
        f"pfeat0 AS (SELECT doc_id, y, {bucket} AS b, CAST(COUNT(*) AS BIGINT)"
        " AS cnt FROM pw GROUP BY doc_id, y, b)",
        f"pfeats AS (SELECT * FROM pfeat0 UNION ALL SELECT doc_id, y,"
        f" {SMP.PCTRON_BIAS} AS b, CAST(1 AS BIGINT) AS cnt FROM pdocs)",
        "m1 AS (SELECT doc_id, y, CAST(0 AS BIGINT) AS margin FROM pdocs)",
        "w1 AS (SELECT b, CAST(SUM(y * cnt) AS BIGINT) AS w FROM pfeats"
        " GROUP BY b)",
    ]
    for i in range(2, SMP.PCTRON_ROUNDS + 1):
        ctes += [
            f"s{i} AS (SELECT f.doc_id, f.y, SUM(f.cnt * COALESCE(w.w, 0))"
            f" AS score FROM pfeats f LEFT JOIN w{i - 1} w ON w.b = f.b"
            " GROUP BY f.doc_id, f.y)",
            f"m{i} AS (SELECT doc_id, y, y * score AS margin FROM s{i})",
            f"d{i} AS (SELECT f.b, SUM(f.y * f.cnt) AS dw FROM pfeats f"
            f" JOIN m{i} m ON m.doc_id = f.doc_id WHERE m.margin <= 0"
            " GROUP BY f.b)",
            f"w{i} AS (SELECT COALESCE(a.b, d.b) AS b,"
            " CAST(COALESCE(a.w, 0) + COALESCE(d.dw, 0) AS BIGINT) AS w"
            f" FROM w{i - 1} a FULL JOIN d{i} d ON a.b = d.b)",
        ]
    traces = []
    for i in range(1, SMP.PCTRON_ROUNDS + 1):
        traces.append(
            f"""SELECT CAST({i} AS BIGINT) AS iteration,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM m{i} WHERE margin <= 0)
                AS n_mis,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM m{i}
                WHERE margin <= 0 AND y = 1) AS n_mis_pos,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM m{i}
                WHERE margin <= 0 AND y = -1) AS n_mis_neg,
            (SELECT CAST(SUM(ABS(w)) AS BIGINT) FROM w{i}) AS w_l1,
            (SELECT CAST(COALESCE(MAX(CASE WHEN b = {SMP.PCTRON_BIAS}
                THEN w END), 0) AS BIGINT) FROM w{i}) AS w_bias"""
        )
    body = " UNION ALL ".join(traces)
    return (
        "WITH " + ",\n    ".join(ctes) + f"\n    SELECT * FROM ({body})"
        " ORDER BY iteration"
    )


QUALITY_CLASSIFIER_ORACLE = _perceptron_oracle()


@register_extra(
    "quality_classifier_report",
    QUALITY_CLASSIFIER_ORACLE,
    description="Deterministic batch-perceptron quality classifier over "
    "hashed bag-of-words features: per-round error census + integer "
    "weight evolution, all under the hash gate — one corpus-scale "
    "feature exchange, bounded model state.",
    tags=("llm", "quality", "curation"),
)
def quality_classifier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The linear quality-classifier step (GPT-3 trained an LR
    filter against WebText; FineWeb-Edu a regression head) as a
    deterministic batch perceptron over hashed bag-of-words features —
    every round, all currently misclassified documents contribute y·x
    to the weight update in ONE aggregate, so training is integer-exact
    and order-free (the sequential perceptron is neither). The emitted
    frame is the TRAINING TRACE: per round, the error census under the
    incoming weights (total / false-negative / false-positive) and the
    L1 mass + bias of the updated weights — the whole weight evolution
    sits under the hash gate, the kmeans-inertia-trace discipline.
    Scale shape: the corpus-scale exchange happens once (the feature
    groupBy, persisted); each round is a margins pass + a keyed update
    aggregate on that frame, and the model is a bounded <=257-row
    collect per round (the DSIR/IVF fit discipline). Target = lang=='en'
    (the same proxy label DSIR fits against)."""
    from retail_aws_etl_pipeline_spark.operators import sampling as SMP
    t = load_tables(spark, sf_dir, ["documents"])
    feats = SMP.perceptron_features(
        t["documents"], F.col("lang") == "en"
    ).persist()
    # The fit is eager (bounded <=257-row collect per round) and the
    # census rides the SAME per-round margins pass (perceptron_fit_trace
    # — the r13 report re-executed every round's margins lazily on top
    # of the fit's eager passes, doubling the corpus passes the query
    # paid at execution time). The emitted frame is the collected trace
    # as literals — the weights were already literal-derived (w_l1 /
    # w_bias came from the collected fit), so the hash gate's rigor is
    # unchanged: every value was computed by the Spark aggregates above.
    ws, trace = SMP.perceptron_fit_trace(feats)
    feats.unpersist()
    rows = [
        (
            i,
            n_mis,
            n_mis_pos,
            n_mis_neg,
            sum(abs(v) for v in w),
            w[SMP.PCTRON_BIAS],
        )
        for i, (w, (n_mis, n_mis_pos, n_mis_neg)) in enumerate(
            zip(ws, trace), start=1
        )
    ]
    return spark.createDataFrame(
        rows,
        "iteration long, n_mis long, n_mis_pos long, n_mis_neg long,"
        " w_l1 long, w_bias long",
    ).orderBy("iteration")


#: Pieces emitted by unigram_lm_report (final-count desc, piece-lex
#: tiebreak — total order, piece is unique in the count table).
UNI_TOP_N = 40


@functools.cache
def _unigram_oracle(
    fit_dir: str = "/root/testdata/sf0.01",
) -> str | None:
    """Oracle for :func:`unigram_lm_report`: the FINAL EM
    round's Viterbi segmentation + recount re-derived entirely in SQL —
    a per-word DP as a recursive CTE carrying a sliding window of the
    last UNI_MAX_PIECE_LEN dp values plus the back-pointer digits, then
    a second recursive CTE walking the pointers, then the recount. The
    piece-score literals are fitted INDEPENDENTLY: DuckDB counts the
    words, and the pure-Python reference (textops.unigram_python_mirror
    — its own substring counter, quantizer, and Viterbi) replays rounds
    0..R-1 — the _dsir_oracle discipline. sf0.01-PINNED like
    _ivf_oracle: the registered literals derive from that corpus, so the
    driver only compares at its gate scale; ``fit_dir`` exists for the
    refit path (scripts/unigram_refit_proof.py) that hash-proves the
    operator at sf0.1 against a re-fitted oracle. Memoized; one fit per
    (process, fit_dir)."""
    import os

    path = os.path.join(fit_dir, "documents.parquet")
    if not os.path.exists(path):
        return None
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT w, COUNT(*) AS f
        FROM (SELECT unnest(string_split(text, ' ')) AS w
              FROM read_parquet('{path}'))
        WHERE len(w) >= 1 GROUP BY w
        """
    ).fetchall()
    con.close()
    wf = {w: int(f) for w, f in rows}
    _, scores, _ = TX.unigram_python_mirror(wf)
    sc = scores[-1]
    big = TX._UNI_BIG_NEG
    # Escape the piece literals: a corpus word containing a quote or
    # backslash would otherwise break the generated SQL — the exact
    # hazard unigram_seed_counts' isin() comment warns about (ADVICE
    # r11). DuckDB string literals double the quote; backslash is not an
    # escape in standard literals so it passes through unchanged.
    vals = ", ".join(
        f"""('{p.replace("'", "''")}', CAST({s} AS BIGINT))"""
        for p, s in sorted(sc.items())
    )

    def cand(length: int) -> str:
        prev = ["d0", "d1", "d2", "d3"][length - 1]
        e = (
            f"{prev} + COALESCE((SELECT score FROM uvocab v WHERE v.piece ="
            f" substr(w, j + 2 - {length}, {length})), CAST({big} AS BIGINT))"
        )
        return e if length == 1 else f"CASE WHEN j >= {length - 1} THEN {e} END"

    cands = f"SELECT {cand(1)} AS s, 1 AS l" + "".join(
        f" UNION ALL SELECT {cand(n)}, {n}"
        for n in range(2, TX.UNI_MAX_PIECE_LEN + 1)
    )
    return f"""
    WITH RECURSIVE uvocab(piece, score) AS (VALUES {vals}),
    uw AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) >= 1 GROUP BY w
    ),
    dp(w, freq, n, j, d0, d1, d2, d3, lens) AS (
        SELECT w, freq, CAST(length(w) AS INT), 0, CAST(0 AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), ''
        FROM uw
        UNION ALL
        SELECT w, freq, n, j + 1, best.s, d0, d1, d2,
               lens || CAST(best.l AS VARCHAR)
        FROM dp, LATERAL (
            SELECT s, l FROM ({cands}) c WHERE s IS NOT NULL
            ORDER BY s DESC, l DESC LIMIT 1
        ) best
        WHERE j < n
    ),
    fin AS (SELECT w, freq, n, lens FROM dp WHERE j = n),
    walk(w, freq, lens, j, piece) AS (
        SELECT w, freq, lens, n, CAST(NULL AS VARCHAR) FROM fin
        UNION ALL
        SELECT w, freq, lens, j - CAST(substr(lens, j, 1) AS INT),
               substr(w, j - CAST(substr(lens, j, 1) AS INT) + 1,
                      CAST(substr(lens, j, 1) AS INT))
        FROM walk WHERE j > 0
    ),
    cnt AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS n_tokens
            FROM walk WHERE piece IS NOT NULL GROUP BY piece)
    SELECT c.piece, CAST(length(c.piece) AS BIGINT) AS piece_len,
           c.n_tokens, v.score AS score_q
    FROM cnt c JOIN uvocab v ON v.piece = c.piece
    ORDER BY c.n_tokens DESC, c.piece
    LIMIT {UNI_TOP_N}
    """


UNIGRAM_LM_ORACLE = _unigram_oracle()


@register_extra(
    "unigram_lm_report",
    UNIGRAM_LM_ORACLE,
    description="Unigram-LM tokenizer trainer (Kudo 2018): seed word "
    "census + integer-quantized EM rounds with Viterbi segmentation, "
    "final piece table under the hash gate — word-keyed exchanges only.",
    tags=("llm", "tokenizer"),
)
def unigram_lm_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram-LM tokenizer trainer (Kudo 2018 — the OTHER
    production tokenizer algorithm next to BPE; SentencePiece's default)
    as deterministic hard-EM: seed vocab = every character + top-K
    substrings, quantized integer log-prob scores, then per round a
    max-score Viterbi segmentation of every word and a recount — the
    whole loop in pure Column algebra (the DP is one aggregate() fold
    per word carrying (best score, back-pointer) arrays, ties to the
    longest piece via engine-portable struct comparison; a second fold
    walks the pointers — no UDF, no DP-state explode). Output: the
    final round's top-{n} pieces with token counts and the scores that
    produced them. Scale shape: ONE corpus-scale exchange (the word
    groupBy, persisted); every fit collect is bounded at |vocab| rows
    (seed selection is orderBy+limit BEFORE collect); segmentation is
    embarrassingly parallel over word types — the tokenizer-application
    shape at 100 TB. Completes the tokenizer lifecycle:
    bpe_train_merges_report (merge-based) + this (likelihood-based) +
    bpe_encode_report / tokenizer_fertility_by_lang (application/audit).
    """

    t = load_tables(spark, sf_dir, ["documents"])
    words = TX.unigram_word_freqs(t["documents"]).persist()
    _vocab, scores = TX.unigram_fit(words)
    final = TX.unigram_segment_counts(words, scores[-1])
    m = TX._uni_score_map(scores[-1])
    out = (
        final.select(
            "piece",
            F.length("piece").cast("long").alias("piece_len"),
            "n_tokens",
            F.element_at(m, F.col("piece")).alias("score_q"),
        )
        .orderBy(F.desc("n_tokens"), "piece")
        .limit(UNI_TOP_N)
    )
    return out


# ---------------------------------------------------------------------------
# r15 tranche: perplexity, minhash estimate error, temperature mixture,
# Bloom prefilter, join-key skew and deterministic HLL.
# ---------------------------------------------------------------------------


def _kn_doc_perplexity_oracle() -> str:
    """Oracle for :func:`doc_perplexity_report`: the full KN
    table (no top-N cut) re-derived in DuckDB, then every document's
    adjacent pairs look up p_kn_ppm and fold the EXACT integer
    floor(log2(p^2)) CASE ladder (shared generator with the Spark plan —
    never a libm log), grouped per doc and terciled by mean log-prob."""
    from retail_aws_etl_pipeline_spark.operators.textops import (
        KN_SCALE,
        floor_log2_sq_sql,
    )

    ladder = floor_log2_sq_sql("GREATEST(tbl.p_kn_ppm, 1)")
    return f"""
    WITH kt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    kp AS (
        SELECT doc_id, t[i] AS tok_a, t[i + 1] AS tok_b
        FROM (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 1)) AS i
              FROM kt WHERE len(t) >= 2)
    ),
    bg AS (
        SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS c
        FROM kp GROUP BY tok_a, tok_b
    ),
    pre AS (
        SELECT tok_a, CAST(SUM(c) AS BIGINT) AS c_prefix,
               CAST(COUNT(*) AS BIGINT) AS n_followers
        FROM bg GROUP BY tok_a
    ),
    lft AS (
        SELECT tok_b, CAST(COUNT(*) AS BIGINT) AS n_left FROM bg GROUP BY tok_b
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bigram_types,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM bg
    ),
    gd AS (
        SELECT n_bigram_types,
               CAST(CASE WHEN n1 + 2 * n2 = 0 THEN 0
                    ELSE n1 * {KN_SCALE} // (n1 + 2 * n2) END AS BIGINT) AS d_ppm
        FROM g
    ),
    tbl AS (
        SELECT b.tok_a, b.tok_b,
               CAST(GREATEST(b.c * {KN_SCALE} - gd.d_ppm, 0) // p.c_prefix
                    + (gd.d_ppm * p.n_followers // p.c_prefix)
                      * (l.n_left * {KN_SCALE} // gd.n_bigram_types) // {KN_SCALE}
                    AS BIGINT) AS p_kn_ppm
        FROM bg b
        JOIN pre p ON p.tok_a = b.tok_a
        JOIN lft l ON l.tok_b = b.tok_b, gd
    ),
    sc AS (
        SELECT kp.doc_id, CAST({ladder} AS BIGINT) AS llq
        FROM kp JOIN tbl ON tbl.tok_a = kp.tok_a AND tbl.tok_b = kp.tok_b
    ),
    d AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(llq) AS BIGINT) AS ll_q
        FROM sc GROUP BY doc_id
    ),
    m AS (
        SELECT doc_id, n_pairs, ll_q,
               CAST(ll_q * 1000000 // n_pairs AS BIGINT) AS mean_llq_ppm
        FROM d
    )
    SELECT doc_id, n_pairs, ll_q, mean_llq_ppm,
           CAST(NTILE(3) OVER (ORDER BY mean_llq_ppm DESC, doc_id)
                AS BIGINT) AS ppl_bucket
    FROM m ORDER BY doc_id
    """


KN_DOC_PERPLEXITY_ORACLE = _kn_doc_perplexity_oracle()


@register_extra(
    "doc_perplexity_report",
    KN_DOC_PERPLEXITY_ORACLE,
    description="CCNet perplexity filter: KN bigram LM scores every "
    "document via the exact integer floor(log2(p^2)) ladder, tercile "
    "buckets by _distributed_ntile — model build is one corpus "
    "exchange, scoring a vocab-scale join, all under the hash gate.",
    tags=("llm", "quality", "curation"),
)
def doc_perplexity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet perplexity filter proper (Wenzek et al. 2020) — train an
    n-gram LM, score every document, bucket by perplexity tercile (CCNet's
    head/middle/tail; training recipes keep head+middle or reweight by
    bucket). The model is the registered KN bigram machinery
    (ngram_lm_report's kernel, full table) fitted on the same corpus — the
    deterministic stand-in for CCNet's external Wikipedia KenLM. Per-pair
    probability contributes the EXACT integer floor(log2(p_ppm^2)) via a
    threshold CASE ladder generated from pure-integer isqrt arithmetic
    (textops.floor_log2_sq_sql, shared verbatim with the oracle) — no libm
    log on either engine, so the whole score + bucket assignment sits under
    the hash gate. Scale: the model build is ONE corpus-wide exchange;
    scoring is a vocab-scale join + per-doc fold; the tercile is the shared
    _distributed_ntile (one range exchange, no global window)."""
    from retail_aws_etl_pipeline_spark.plans.analytics import _distributed_ntile

    t = load_tables(spark, sf_dir, ["documents"])
    scores = TX.kn_doc_scores(t["documents"])
    nt = _distributed_ntile(
        scores, [F.desc("mean_llq_ppm"), F.asc("doc_id")], 3, "ppl_bucket"
    )
    out = nt.select(
        "doc_id", "n_pairs", "ll_q", "mean_llq_ppm", "ppl_bucket"
    ).orderBy("doc_id")
    return out


#: Oracle for :func:`minhash_estimate_error`. Shares the
#: GRAMS/SIGS CTEs with the registered lsh_dedup_recall oracle family.
MINHASH_ESTIMATE_ORACLE = f"""
    WITH {GRAMS_CTE}, {SIGS_CTE},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT c.id_a, c.id_b,
               CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
                    * 1000000 // {D.NUM_HASHES} AS BIGINT) AS est_ppm
        FROM cand c
        JOIN sigs sa ON sa.doc_id = c.id_a
        JOIN sigs sb ON sb.doc_id = c.id_b AND sb.s = sa.s
        GROUP BY c.id_a, c.id_b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    exact AS (
        SELECT cm.id_a, cm.id_b,
               CAST(cm.common * 1000000
                    // (sa.n + sb.n - cm.common) AS BIGINT) AS exact_ppm
        FROM common cm
        JOIN sizes sa ON sa.doc_id = cm.id_a
        JOIN sizes sb ON sb.doc_id = cm.id_b
    )
    SELECT e.id_a, e.id_b, e.est_ppm, x.exact_ppm,
           CAST(ABS(e.est_ppm - x.exact_ppm) AS BIGINT) AS abs_err_ppm
    FROM est e JOIN exact x ON x.id_a = e.id_a AND x.id_b = e.id_b
    ORDER BY e.id_a, e.id_b
"""


@register_extra(
    "minhash_estimate_error",
    MINHASH_ESTIMATE_ORACLE,
    description="MinHash precision audit: every banded candidate pair "
    "scored by the k-slot signature estimate AND exact Jaccard with "
    "abs error in ppm — one gram exchange feeds both legs, exact leg "
    "is the candidate-restricted posting-list join.",
    tags=("llm", "dedup", "similarity"),
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRECISION side of the LSH audit family (lsh_dedup_recall covers
    recall): every banded candidate pair scored by the k-slot signature
    ESTIMATE and the exact Jaccard side by side, with the absolute error —
    the measurement that decides whether a pipeline can skip the
    exact-verify join and trust signatures alone at its threshold. Scale:
    ONE gram exchange feeds both legs via the fused per_doc_signatures pass;
    the exact leg is the posting-list join restricted to candidate docs
    (never all-pairs)."""

    t = load_tables(spark, sf_dir, ["documents"])
    grams = D.shingles(t["documents"].repartition("doc_id"), spread=False).persist()
    return D.minhash_estimate_pairs(grams).orderBy("id_a", "id_b")


def _temperature_oracle() -> str:
    """Oracle for :func:`temperature_mixture_report`.
    floor(sqrt(n)) is exact on both engines: counts < 2^52 are exactly
    representable and IEEE-754 sqrt is correctly rounded — the reason
    tau is fixed at 2 instead of a libm pow exponent."""
    return """
    WITH tc AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS w_sqrt
        FROM documents WHERE lang IS NOT NULL GROUP BY lang
    ),
    tt AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
               CAST(SUM(w_sqrt) AS BIGINT) AS w_total
        FROM tc
    )
    SELECT tc.lang, tc.n_docs, tc.w_sqrt,
           CAST(tc.n_docs * 1000000 // tt.n_total AS BIGINT) AS natural_ppm,
           CAST(tc.w_sqrt * 1000000 // tt.w_total AS BIGINT) AS temp_share_ppm,
           CAST(tc.w_sqrt * tt.n_total // tt.w_total AS BIGINT) AS quota_docs,
           CAST((tc.w_sqrt * tt.n_total // tt.w_total) * 1000000 // tc.n_docs
                AS BIGINT) AS rate_ppm
    FROM tc, tt ORDER BY tc.lang
    """


TEMPERATURE_MIXTURE_ORACLE = _temperature_oracle()


@register_extra(
    "temperature_mixture_report",
    TEMPERATURE_MIXTURE_ORACLE,
    description="Temperature-sampling mixture config (tau=2, integer-"
    "exact sqrt weights): per-language natural vs temperature share, "
    "same-N quota and sampling rate — one groupBy(lang) plus a "
    "single-row broadcast.",
    tags=("llm", "sampling", "mixture"),
)
def temperature_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampling mixture derivation (mT5 / XLM-R: w_l
    proportional to n_l^(1/tau), tau=2) — DERIVES the per-language mixing
    config the consuming samplers (corpus_mixture_sample) take as input:
    sqrt weight, natural vs temperature share, same-N quota, and the
    resulting per-group sampling rate (> 1e6 ppm = the group is up-sampled /
    repeated). Exponent fixed at 1/2 so the weights are integer-exact on
    both engines (correctly-rounded IEEE sqrt + floor; a libm pow would not
    hash-match). NULL lang is excluded from mixing — the shard-manifest
    discipline. Scale: one groupBy(lang) + a single-row broadcast."""
    from retail_aws_etl_pipeline_spark.operators import sampling as SMP

    t = load_tables(spark, sf_dir, ["documents"])
    return SMP.temperature_quota(t["documents"])


def _bloom_oracle() -> str:
    """Oracle for :func:`bloom_prefilter_stats`: the same
    md5-derived positions, 32-bit-word bit_or filter build, probe-side
    all-k membership test, and exact-integer saturation-model FPR,
    re-derived relationally in DuckDB."""
    from retail_aws_etl_pipeline_spark.operators.dedup import (
        BLOOM_BITS,
        BLOOM_HASHES,
        BLOOM_WORD_BITS,
    )

    pos_rows = " UNION ALL ".join(
        f"SELECT doc_id, text, CAST(('0x' || substr(md5(text), {1 + 8 * i}, 8)) "
        f"AS BIGINT) % {BLOOM_BITS} AS pos FROM bl_probe"
        for i in range(BLOOM_HASHES)
    )
    hist_rows = " UNION ALL ".join(
        f"SELECT CAST(('0x' || substr(md5(text), {1 + 8 * i}, 8)) "
        f"AS BIGINT) % {BLOOM_BITS} AS pos FROM bl_hist"
        for i in range(BLOOM_HASHES)
    )
    return f"""
    WITH bl_hist AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
    bl_probe AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
    hp AS ({hist_rows}),
    words AS (
        SELECT pos // {BLOOM_WORD_BITS} AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD_BITS} AS INT))
                   AS word
        FROM hp GROUP BY pos // {BLOOM_WORD_BITS}
    ),
    pp AS ({pos_rows}),
    probe_flags AS (
        SELECT p.doc_id, md5(p.text) AS h,
               MIN(CASE WHEN w.word IS NOT NULL
                         AND (w.word & (CAST(1 AS BIGINT)
                              << CAST(p.pos % {BLOOM_WORD_BITS} AS INT))) <> 0
                        THEN 1 ELSE 0 END) AS bloom_pos
        FROM pp p
        LEFT JOIN words w ON w.word_idx = p.pos // {BLOOM_WORD_BITS}
        GROUP BY p.doc_id, md5(p.text)
    ),
    hh AS (SELECT DISTINCT md5(text) AS h FROM bl_hist),
    flagged AS (
        SELECT pf.bloom_pos,
               CASE WHEN hh.h IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        FROM probe_flags pf LEFT JOIN hh ON hh.h = pf.h
    ),
    sb AS (SELECT CAST(SUM(bit_count(word)) AS BIGINT) AS s FROM words),
    census AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(SUM(bloom_pos) AS BIGINT) AS n_bloom_pos,
               CAST(SUM(is_dup) AS BIGINT) AS n_true_dups,
               CAST(SUM(CASE WHEN bloom_pos = 1 AND is_dup = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
               CAST(SUM(CASE WHEN bloom_pos = 0 AND is_dup = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_missed_dups
        FROM flagged
    )
    SELECT c.n_probes, c.n_bloom_pos, c.n_true_dups, c.n_false_pos,
           c.n_missed_dups,
           CAST(c.n_false_pos * 1000000
                // GREATEST(c.n_probes - c.n_true_dups, 1) AS BIGINT)
               AS fpr_ppm,
           sb.s AS bits_set,
           CAST(sb.s * sb.s * sb.s * sb.s * 1000000
                // (CAST({BLOOM_BITS} AS BIGINT) * {BLOOM_BITS}
                    * {BLOOM_BITS} * {BLOOM_BITS}) AS BIGINT)
               AS model_fpr_ppm
    FROM census c, sb
    """


BLOOM_PREFILTER_ORACLE = _bloom_oracle()


@register_extra(
    "bloom_prefilter_stats",
    BLOOM_PREFILTER_ORACLE,
    description="Bloom membership prefilter census: 32x32-bit-word "
    "bit_or filter build (<=32 rows exchanged, broadcast to probes), "
    "k=4 md5 probes, measured + saturation-model FPR and the "
    "no-false-negative invariant under the hash gate.",
    tags=("llm", "dedup", "sketch"),
)
def bloom_prefilter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership prefilter census — the sub-linear "seen before?"
    gate an incremental exact-dedup cadence runs BEFORE its anti-join
    against the standing corpus. Standing half = even doc_ids, ingest half =
    odd (the term_drift parity convention); the filter is m=1024 bits as 32
    x 32-bit words built by an associative bit_or aggregate (map-side
    combined, <= 32 rows exchanged, broadcast to probes), k=4 md5-derived
    probes consuming the full digest. The one-row census carries the
    operating numbers (Bloom positives, true dups, false positives, measured
    FPR ppm) plus the exact-integer saturation model (s/m)^k in ppm AND the
    structural no-false-negative invariant (n_missed_dups = 0) under the
    hash gate. At 100 TB the standing filter answers membership in 128
    bytes; only Bloom-positive documents pay the exact join."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    probes = docs.filter(F.col("doc_id") % 2 == 1)
    return D.bloom_prefilter_census(hist, probes)


def _key_skew_oracle() -> str:
    """Oracle for :func:`join_key_skew_report`: per key
    family, the same NULL-excluded per-key counts, single-buffer argmax
    (ties to smallest key) and floor skew arithmetic, UNION ALL'd."""
    blocks = []
    for kc in ("l_orderkey", "l_partkey", "l_suppkey"):
        blocks.append(f"""
    SELECT '{kc}' AS key_family,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MIN({{'nc': -c, 'k': k}}).k AS BIGINT) AS top_key,
           CAST(MAX(c) AS BIGINT) AS max_per_key,
           CAST(SUM(c) // COUNT(*) AS BIGINT) AS avg_per_key,
           CAST(MAX(c) * 1000000 // GREATEST(SUM(c) // COUNT(*), 1) AS BIGINT)
               AS skew_ppm
    FROM (SELECT {kc} AS k, CAST(COUNT(*) AS BIGINT) AS c
          FROM lineitem WHERE {kc} IS NOT NULL GROUP BY {kc})""")
    body = " UNION ALL ".join(blocks)
    return f"SELECT * FROM ({body}) ORDER BY key_family"


KEY_SKEW_ORACLE = _key_skew_oracle()


@register_extra(
    "join_key_skew_report",
    KEY_SKEW_ORACLE,
    description="Shuffle-planning skew census per fact join-key family: "
    "rows, distinct keys, deterministic hottest-key argmax, max/avg "
    "fan-out and skew ppm — one partial-aggregated count per family, "
    "single-row rollups.",
    tags=("plan", "skew", "diagnostics"),
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shuffle-planning skew diagnostic — per join-key
    family of the fact table (orderkey / partkey / suppkey), total rows,
    distinct keys, the hottest key (deterministic single-buffer argmax,
    ties to smallest key), max and floor-average per-key fan-out, and
    the skew ratio in ppm: the census that tells an operator BEFORE the
    100 TB run whether a groupBy/join key needs a two-phase salted
    aggregate or can lean on AQE skew-join splitting (joins only — a hot groupBy reducer gets no AQE help).
    The histogram surface keeps two registered carriers per the drafted
    r15 pairing (customer_spend_deciles, sketch_accuracy_stats). Scale:
    one partial-aggregated count per family over the same scan;
    per-family rollups are single-row aggregates."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    from retail_aws_etl_pipeline_spark.operators.skew import key_skew_census

    return key_skew_census(t["lineitem"], ["l_orderkey", "l_partkey", "l_suppkey"])


def _hll_e_raw_sql(alpha_ppm: int) -> str:
    """The one shared raw-estimate fragment over CTE columns ``n_big``
    (m*m*2^rc) and ``d`` (the shifted harmonic denominator): sum the
    quotient and remainder halves FIRST, then apply a single floor
    division by 1e6.  Flooring each addend separately drifts low by 1
    whenever the sub-remainders cross a 1e6 boundary (~35% of register
    states — ADVICE r13), so both oracles MUST use this exact string."""
    return (
        f"((n_big // d) * {alpha_ppm}"
        f" + ((n_big % d) * {alpha_ppm}) // d) // 1000000"
    )


def _hll_metric_oracle(metric: str, table: str, key_sql: str) -> str:
    """One UNION-ALL block of the deterministic-HLL oracle: the same
    md5-slice registers, clamped-rho ladder, remainder-corrected
    harmonic estimate and LC literal table as operators/sketch.py, in
    DuckDB SQL. NULL keys are excluded on both engines (a NULL hashes
    to a NULL bucket — the NULL-grouping divergence class)."""
    from retail_aws_etl_pipeline_spark.operators.sketch import (
        HLL_ALPHA_PPM,
        HLL_BUCKETS,
        HLL_LC_TABLE,
        hll_rho_sql,
    )

    m = HLL_BUCKETS
    lc = ",".join(str(x) for x in HLL_LC_TABLE)
    rho = hll_rho_sql("w")
    return f"""
    SELECT '{metric}' AS metric, s.n_rows, s.exact_distinct,
           e.hll_estimate,
           CAST(ABS(e.hll_estimate - s.exact_distinct) * 1000000
                // GREATEST(s.exact_distinct, 1) AS BIGINT) AS err_ppm,
           e.v_zero_registers, e.rc_max_register
    FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT {key_sql}) AS BIGINT) AS exact_distinct
        FROM {table} WHERE {key_sql} IS NOT NULL
    ) s, (
        WITH hx AS (
            SELECT md5(CAST({key_sql} AS VARCHAR)) AS h
            FROM {table} WHERE {key_sql} IS NOT NULL
        ),
        parts AS (
            SELECT CAST(('0x' || substr(h, 1, 2)) AS BIGINT) AS bucket,
                   CAST(('0x' || substr(h, 3, 13)) AS BIGINT) AS w
            FROM hx
        ),
        regs AS (
            SELECT bucket, CAST(MAX({rho}) AS BIGINT) AS register
            FROM parts GROUP BY bucket
        ),
        head AS (
            SELECT COALESCE(MAX(register), 0) AS rc,
                   CAST(COUNT(*) AS BIGINT) AS n_present
            FROM regs
        ),
        dpre AS (
            SELECT COALESCE(SUM(CAST(1 AS BIGINT) << CAST(h.rc - r.register AS INT)),
                            0) AS dp
            FROM regs r, head h
        ),
        est AS (
            SELECT h.rc, {m} - h.n_present AS v,
                   d.dp + ({m} - h.n_present)
                       * (CAST(1 AS BIGINT) << CAST(h.rc AS INT)) AS d,
                   CAST({m} AS BIGINT) * {m}
                       * (CAST(1 AS BIGINT) << CAST(h.rc AS INT)) AS n_big
            FROM head h, dpre d
        ),
        fin AS (
            SELECT rc, v,
                   {_hll_e_raw_sql(HLL_ALPHA_PPM)} AS e_raw
            FROM est
        )
        SELECT CAST(CASE WHEN v = {m} THEN 0
                    WHEN v > 0 AND 2 * e_raw <= 5 * {m}
                    THEN ([{lc}])[CAST(v AS INT)]
                    ELSE e_raw END AS BIGINT) AS hll_estimate,
               CAST(v AS BIGINT) AS v_zero_registers,
               CAST(rc AS BIGINT) AS rc_max_register
        FROM fin
    ) e
    """


#: The three audited cardinality targets: corpus dedup headroom
#: (distinct text hashes), fact-table join-key domain, event actor
#: domain — the cardinalities a pipeline sizes dedup, joins and
#: sessionization state by.
HLL_TARGETS = [
    ("documents.text", "documents", "text"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("events.user_id", "events", "user_id"),
]


HLL_DISTINCT_ORACLE = " UNION ALL ".join(
    _hll_metric_oracle(metric, table, key) for metric, table, key in HLL_TARGETS
) + " ORDER BY metric"


@register_extra(
    "hll_distinct_report",
    HLL_DISTINCT_ORACLE,
    description="Deterministic integer-exact HyperLogLog vs exact "
    "distinct on three cardinality targets: estimate, err_ppm and "
    "register diagnostics all hash-gated — the sketch build exchanges "
    "<=256 rows per partition.",
    tags=("llm", "sketch", "cardinality"),
)
def hll_distinct_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct estimation — the
    sketch family under the driver proof regime. Spark's HLL++ register
    layout is engine-private (no ANSI oracle can recompute it), so this
    operator builds HLL from
    scratch on the shared md5 hash family with every step integer-exact
    (generated threshold ladder for the leading-zero count, clamped
    registers bounding all arithmetic inside int64, remainder-corrected
    harmonic estimate, Python-fitted integer LC table — see
    operators/sketch.py), so the ESTIMATE ITSELF hash-matches DuckDB.
    Reports, per audited cardinality target: rows, exact distinct, the
    HLL estimate, its signed... absolute error in ppm, and the register
    diagnostics. The exact leg doubles as the accuracy gate — at sf0.01
    the 256-register sketch lands within ~7% (the 1.04/sqrt(m)
    envelope). Scale: the sketch build exchanges <= 256 rows per
    partition (per-bucket MAX is an associative partial aggregate) —
    the cardinality answer at 100 TB costs one scan and a 256-row
    reduce, vs the exact leg's full shuffle; err_ppm is the per-corpus
    measured proof that the cheap path is usable."""
    from retail_aws_etl_pipeline_spark.operators import sketch as SK

    frames = []
    for metric, table, key in HLL_TARGETS:
        t = load_tables(spark, sf_dir, [table])[table]
        base = t.filter(F.col(key).isNotNull())
        exact = base.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count_distinct(F.col(key)).cast("long").alias("exact_distinct"),
        )
        est = SK.hll_distinct(base, F.col(key))
        frames.append(
            exact.crossJoin(F.broadcast(est)).select(
                F.lit(metric).alias("metric"),
                "n_rows",
                "exact_distinct",
                "hll_estimate",
                F.expr(
                    "abs(hll_estimate - exact_distinct) * 1000000L"
                    " div greatest(exact_distinct, 1L)"
                ).alias("err_ppm"),
                "v_zero_registers",
                "rc_max_register",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("metric")


def _hll_est_chain(regs: str, o: str) -> str:
    """CTE chain turning a ``(bucket, register)`` CTE named ``regs`` into
    a one-row estimate CTE ``{o}_e(e)`` — the same clamped/remainder-
    corrected arithmetic as ``_hll_metric_oracle``, factored for the
    overlap oracle's three estimates per metric."""
    from retail_aws_etl_pipeline_spark.operators.sketch import (
        HLL_ALPHA_PPM,
        HLL_BUCKETS,
        HLL_LC_TABLE,
    )

    m = HLL_BUCKETS
    lc = ",".join(str(x) for x in HLL_LC_TABLE)
    return f"""
    {o}_head AS (
        SELECT COALESCE(MAX(register), 0) AS rc,
               CAST(COUNT(*) AS BIGINT) AS n_present
        FROM {regs}
    ),
    {o}_dp AS (
        SELECT COALESCE(SUM(CAST(1 AS BIGINT) << CAST(h.rc - r.register AS INT)),
                        0) AS dp
        FROM {regs} r, {o}_head h
    ),
    {o}_est AS (
        SELECT h.rc, {m} - h.n_present AS v,
               d.dp + ({m} - h.n_present)
                   * (CAST(1 AS BIGINT) << CAST(h.rc AS INT)) AS d,
               CAST({m} AS BIGINT) * {m}
                   * (CAST(1 AS BIGINT) << CAST(h.rc AS INT)) AS n_big
        FROM {o}_head h, {o}_dp d
    ),
    {o}_fin AS (
        SELECT rc, v,
               {_hll_e_raw_sql(HLL_ALPHA_PPM)} AS e_raw
        FROM {o}_est
    ),
    {o}_e AS (
        SELECT CAST(CASE WHEN v = {m} THEN 0
                    WHEN v > 0 AND 2 * e_raw <= 5 * {m}
                    THEN ([{lc}])[CAST(v AS INT)]
                    ELSE e_raw END AS BIGINT) AS e
        FROM {o}_fin
    )"""


def _hll_overlap_metric_oracle(
    metric: str, table: str, key: str, split: str
) -> str:
    """One UNION-ALL block of the overlap oracle: parity halves on
    ``split``, three register tables (A, B, MAX-merged union), three
    estimate chains, exact counts + the inclusion-exclusion algebra."""
    from retail_aws_etl_pipeline_spark.operators.sketch import hll_rho_sql

    rho = hll_rho_sql("w")

    def parts(half: int, name: str) -> str:
        return f"""
    {name}_hx AS (
        SELECT md5(CAST({key} AS VARCHAR)) AS h
        FROM {table} WHERE {split} % 2 = {half} AND {key} IS NOT NULL
    ),
    {name}_parts AS (
        SELECT CAST(('0x' || substr(h, 1, 2)) AS BIGINT) AS bucket,
               CAST(('0x' || substr(h, 3, 13)) AS BIGINT) AS w
        FROM {name}_hx
    ),
    {name} AS (
        SELECT bucket, CAST(MAX({rho}) AS BIGINT) AS register
        FROM {name}_parts GROUP BY bucket
    )"""

    return f"""
    SELECT '{metric}' AS metric,
           x.exact_a, x.exact_b, x.exact_overlap,
           ea.e AS est_a, eb.e AS est_b, eu.e AS est_union,
           CAST(ea.e + eb.e - eu.e AS BIGINT) AS est_overlap,
           CAST(ABS(ea.e + eb.e - eu.e - x.exact_overlap) AS BIGINT) AS err_abs
    FROM (
        SELECT
            (SELECT CAST(COUNT(DISTINCT {key}) AS BIGINT) FROM {table}
             WHERE {split} % 2 = 0 AND {key} IS NOT NULL) AS exact_a,
            (SELECT CAST(COUNT(DISTINCT {key}) AS BIGINT) FROM {table}
             WHERE {split} % 2 = 1 AND {key} IS NOT NULL) AS exact_b,
            (SELECT CAST(COUNT(DISTINCT a.{key}) AS BIGINT) FROM {table} a
             WHERE a.{split} % 2 = 0 AND a.{key} IS NOT NULL
               AND a.{key} IN (SELECT {key} FROM {table}
                               WHERE {split} % 2 = 1 AND {key} IS NOT NULL))
                AS exact_overlap
    ) x, (
        WITH {parts(0, "ra")},
        {_hll_est_chain("ra", "qa")}
        SELECT e FROM qa_e
    ) ea, (
        WITH {parts(1, "rb")},
        {_hll_est_chain("rb", "qb")}
        SELECT e FROM qb_e
    ) eb, (
        WITH {parts(0, "ra")},
        {parts(1, "rb")},
        ru AS (
            SELECT bucket, MAX(register) AS register
            FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
            GROUP BY bucket
        ),
        {_hll_est_chain("ru", "qu")}
        SELECT e FROM qu_e
    ) eu
    """


#: Overlap targets: (metric, table, key, deterministic parity split) —
#: two large-overlap regimes (actors / parts active in both halves) and
#: one small-overlap regime (texts duplicated across halves) where the
#: inclusion-exclusion noise is the thing being audited.
HLL_OVERLAP_TARGETS = [
    ("documents.text|doc_id", "documents", "text", "doc_id"),
    ("events.user_id|event_id", "events", "user_id", "event_id"),
    ("lineitem.l_partkey|l_orderkey", "lineitem", "l_partkey", "l_orderkey"),
]


HLL_OVERLAP_ORACLE = " UNION ALL ".join(
    _hll_overlap_metric_oracle(*t) for t in HLL_OVERLAP_TARGETS
) + " ORDER BY metric"


@register_extra(
    "hll_overlap_report",
    HLL_OVERLAP_ORACLE,
    description="Sketch-algebra overlap audit: per-bucket-MAX register "
    "union + inclusion-exclusion estimates pairwise key overlap between "
    "parity halves of three tables next to the exact intersection — "
    "sketch once, answer overlap questions later with no corpus rescan.",
    tags=("llm", "sketch", "dedup"),
)
def hll_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r16 (staged r13): sketch-ALGEBRA overlap — register-table
    union (per-bucket MAX, exact by construction) + inclusion–exclusion
    estimates the key overlap between two deterministic parity halves
    of each audited table, next to the exact intersection. The 100 TB
    claim this registers: snapshots/days/sources sketched ONCE (<= 256
    rows each at rest) answer any pairwise overlap question later with
    NO join over either corpus — est_union comes from the per-bucket
    register MAX, never a rescan. The small-overlap documents target deliberately sits in
    the noisy regime (three stacked estimator errors; est_overlap is
    SIGNED and can go negative) so the audit shows exactly where the
    cheap algebra is trustworthy — the err_abs column against the exact
    leg is the measured answer. Every arithmetic step is the
    hash-gateable integer HLL of hll_distinct_report."""
    from retail_aws_etl_pipeline_spark.operators import sketch as SK

    frames = []
    for metric, table, key, split in HLL_OVERLAP_TARGETS:
        t = load_tables(spark, sf_dir, [table])[table]
        base = t.filter(F.col(key).isNotNull())
        # Exact leg, fused (r16 optimization — guide §2.3/§2.4): exact_a,
        # exact_b and the intersection all derive from ONE groupBy(key)
        # pass marking which parity halves each distinct key appears in —
        # replacing two DISTINCT exchanges + a semi-join + two separate
        # count_distinct aggregations (≈5 corpus-scale exchanges and a
        # join) with one key-wide exchange and a 1-row reduce. Values are
        # identical by construction: sum(in_a) == COUNT(DISTINCT key
        # WHERE split%2=0), and sum(in_a AND in_b) == |A ∩ B|. NULL-split
        # rows land in neither half on both paths (split % 2 == k is NULL).
        per_key = base.groupBy(F.col(key).alias("__k")).agg(
            F.max(F.coalesce(F.col(split) % 2 == 0, F.lit(False)))
            .cast("int")
            .alias("__in_a"),
            F.max(F.coalesce(F.col(split) % 2 == 1, F.lit(False)))
            .cast("int")
            .alias("__in_b"),
        )
        exact = per_key.agg(
            # COALESCE 0: SUM over an all-NULL-key table's empty per_key
            # frame is NULL where the old COUNT path returned 0
            F.coalesce(F.sum(F.col("__in_a") * F.col("__in_b")), F.lit(0))
            .cast("long")
            .alias("exact_overlap"),
            F.coalesce(F.sum("__in_a"), F.lit(0)).cast("long").alias("exact_a"),
            F.coalesce(F.sum("__in_b"), F.lit(0)).cast("long").alias("exact_b"),
        ).select("exact_overlap", "exact_a", "exact_b")
        # Sketch leg, fused (same rewrite): both halves' register tables
        # and the MAX-merged union from ONE scan + ONE <= m-row exchange.
        # Parity guard (ADVICE r16): the kernel routes every non-TRUE
        # is_a into half B, but the exact leg and the oracle define B as
        # split % 2 == 1 — a NEGATIVE split value (Spark's % keeps the
        # dividend's sign, so it yields -1) belongs to NEITHER half.
        # Restrict the sketch's input to the two oracle parities so both
        # legs share the same membership semantics; latent-only today
        # (all current split columns are non-negative), zero plan cost
        # (the filter rides the scan).
        est = SK.hll_overlap_split(
            base.filter((F.col(split) % 2).isin(0, 1)),
            F.col(key),
            F.col(split) % 2 == 0,
        )
        frames.append(
            exact.crossJoin(F.broadcast(est)).select(
                F.lit(metric).alias("metric"),
                "exact_a",
                "exact_b",
                "exact_overlap",
                "est_a",
                "est_b",
                "est_union",
                "est_overlap",
                F.expr("abs(est_overlap - exact_overlap)").alias("err_abs"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("metric")


# ---------------------------------------------------------------------------
# STAGED r16 tranche (ROADMAP "r16 schedule", drafted r14): five new ops
# + the r13-staged hll_overlap_report complete the six swaps against the
# r13 cohort. Registration happens at the r16 rotation; until then these
# carry the full local proof battery (tests/test_staged_r16.py) like
# every staged predecessor.
# ---------------------------------------------------------------------------


def _badwords_in_sql() -> str:
    return ", ".join(f"'{w}'" for w in TX.BADWORDS)


#: Oracle for :func:`badwords_filter_report` (STAGED r16). Exact lowercase
#: token membership against the documented blocklist; NULL lang excluded
#: (the shard-manifest discipline); top blocked word ties break to the
#: lexicographically smallest via the DuckDB named-struct argmax.
BADWORDS_FILTER_ORACLE = f"""
    WITH bw_doc AS (
        SELECT lang,
               CAST(len(list_filter(
                   list_transform(string_split(text, ' '), t -> lower(t)),
                   t -> t IN ({_badwords_in_sql()}))) AS BIGINT) AS n_bad
        FROM documents WHERE lang IS NOT NULL
    ),
    bw_base AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_blocked_docs,
               CAST(SUM(n_bad) AS BIGINT) AS n_blocked_tokens
        FROM bw_doc GROUP BY lang
    ),
    bw_words AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT lang,
                   unnest(list_filter(
                       list_transform(string_split(text, ' '), t -> lower(t)),
                       t -> t IN ({_badwords_in_sql()}))) AS w
            FROM documents WHERE lang IS NOT NULL
        ) GROUP BY lang, w
    ),
    bw_top AS (
        SELECT lang, MIN({{'nc': -c, 'w': w}}).w AS top_badword
        FROM bw_words GROUP BY lang
    )
    SELECT b.lang, b.n_docs, b.n_blocked_docs, b.n_blocked_tokens,
           b.n_blocked_docs * 1000000 // b.n_docs AS block_rate_ppm,
           t.top_badword
    FROM bw_base b LEFT JOIN bw_top t ON t.lang = b.lang
    ORDER BY b.lang
"""


@register_extra(
    "badwords_filter_report",
    BADWORDS_FILTER_ORACLE,
    description="C4 bad-words document gate: per-language block census "
    "(blocked docs/tokens, block rate ppm, deterministic top blocked "
    "word) with the blocklist riding the plan as literals, never a join.",
    tags=("llm", "quality", "curation"),
)
def badwords_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r16 (staged r14): the C4 bad-words document gate (Raffel et al. 2020
    §2.2 — the one rule battery the C4/Gopher trio was still missing) as
    a per-language block census: docs, blocked docs (any lowercase token
    on the blocklist), blocked-token occurrences, block rate ppm, and
    the deterministic top blocked word (count desc, lex asc via the
    single-buffer min(struct) argmax). NULL lang is excluded like every
    keyed census (the shard-manifest discipline). Scale shape: one
    scan-side membership projection for the doc census + one
    (lang, word)-keyed exchange bounded by |blocklist| x |langs| for the
    top word — the blocklist rides the plan as literals, never a join."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].filter(F.col("lang").isNotNull())
    bl = _badwords_in_sql()
    hits = f"filter(transform(split(text, ' '), t -> lower(t)), t -> t IN ({bl}))"
    base = (
        docs.select("lang", F.expr(f"size({hits})").cast("long").alias("n_bad"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("n_bad") > 0).cast("long")).cast("long").alias(
                "n_blocked_docs"
            ),
            F.sum("n_bad").cast("long").alias("n_blocked_tokens"),
        )
    )
    top = (
        docs.select("lang", F.explode(F.expr(hits)).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("lang")
        .agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("w").alias("w")))
            .getField("w")
            .alias("top_badword")
        )
    )
    return (
        base.join(top, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "n_blocked_docs",
            "n_blocked_tokens",
            F.expr("n_blocked_docs * 1000000L div n_docs").alias(
                "block_rate_ppm"
            ),
            "top_badword",
        )
        .orderBy("lang")
    )


#: The n-gram sizes the corpus-diversity census sweeps.
NGRAM_DIVERSITY_SIZES = (1, 2, 3)


def _ngram_diversity_oracle() -> str:
    legs = []
    for n in NGRAM_DIVERSITY_SIZES:
        legs.append(f"""
        SELECT source, CAST({n} AS BIGINT) AS n,
               array_to_string(t[i:i + {n - 1}], ' ') AS gram
        FROM (SELECT source, t,
                     UNNEST(generate_series(1, len(t) - {n - 1})) AS i
              FROM nd_toks WHERE len(t) >= {n})""")
    body = " UNION ALL ".join(legs)
    return f"""
    WITH nd_toks AS (
        SELECT source, string_split(text, ' ') AS t
        FROM documents WHERE source IS NOT NULL
    ),
    nd_grams AS ({body}),
    nd_cnt AS (
        SELECT source, n, gram, CAST(COUNT(*) AS BIGINT) AS c
        FROM nd_grams GROUP BY source, n, gram
    )
    SELECT source, n,
           CAST(SUM(c) AS BIGINT) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singletons,
           CAST(COUNT(*) AS BIGINT) * 1000000
               // GREATEST(CAST(SUM(c) AS BIGINT), 1) AS diversity_ppm,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
               // GREATEST(CAST(COUNT(*) AS BIGINT), 1) AS hapax_ppm
    FROM nd_cnt GROUP BY source, n
    ORDER BY source, n
"""


#: Oracle for :func:`ngram_diversity_report` (STAGED r16). Correlated
#: len()-bounded lateral series (the r13 fixed-cap lesson) per n-gram size.
NGRAM_DIVERSITY_ORACLE = _ngram_diversity_oracle()


@register_extra(
    "ngram_diversity_report",
    NGRAM_DIVERSITY_ORACLE,
    description="Corpus-level n-gram diversity census per source: "
    "total/distinct/hapax n-grams and diversity/hapax ppm for n in "
    "{1,2,3} — the self-BLEU-style mode-collapse audit, one explode + "
    "one (source, n, gram) exchange.",
    tags=("llm", "quality", "curation"),
)
def ngram_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r16 (staged r14): corpus-level n-gram diversity census per source — the
    self-BLEU-style mode-collapse / boilerplate-saturation audit at
    CORPUS granularity (gopher_repetition_report is the per-DOC half):
    for n in {{1,2,3}}, total n-grams, distinct n-grams, singletons
    (hapax), diversity ppm (distinct/total) and hapax ppm
    (singletons/distinct). A source whose diversity collapses as n grows
    is template-dominated; a healthy corpus keeps hapax mass high.
    NULL source excluded. Scale shape: ONE explode over the three sizes
    (same single-pass discipline as the repetition battery) into one
    (source, n, gram)-keyed exchange; the rollup is |sources| x 3 rows.
    At 100 TB the gram exchange dominates — hash the gram strings
    (xxhash64) the way gopher_repetition_report's hash_ngrams knob does
    if the shuffle bytes bind; counts are unchanged."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].filter(F.col("source").isNotNull())
    arrays = ", ".join(
        f"CASE WHEN size(__toks) >= {n} THEN"
        f" transform(sequence(1, size(__toks) - {n - 1}),"
        f" i -> named_struct('n', {n}L, 'gram',"
        f" concat_ws(' ', slice(__toks, i, {n}))))"
        " ELSE array() END"
        for n in NGRAM_DIVERSITY_SIZES
    )
    from retail_aws_etl_pipeline_spark.session import spread_for_compute

    grams = (
        spread_for_compute(docs.select("source", "text"))
        .withColumn("__toks", F.split("text", " "))
        .select("source", F.explode(F.expr(f"concat({arrays})")).alias("g"))
        .select("source", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    )
    cnt = grams.groupBy("source", "n", "gram").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return (
        cnt.groupBy("source", "n")
        .agg(
            F.sum("c").cast("long").alias("n_total"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum((F.col("c") == 1).cast("long")).cast("long").alias(
                "n_singletons"
            ),
        )
        .select(
            "source",
            "n",
            "n_total",
            "n_distinct",
            "n_singletons",
            F.expr("n_distinct * 1000000L div greatest(n_total, 1L)").alias(
                "diversity_ppm"
            ),
            F.expr(
                "n_singletons * 1000000L div greatest(n_distinct, 1L)"
            ).alias("hapax_ppm"),
        )
        .orderBy("source", "n")
    )


#: Head/tail affix width (tokens) for the template-family census.
AFFIX_K = 8

#: Oracle for :func:`template_affix_report` (STAGED r16).
TEMPLATE_AFFIX_ORACLE = f"""
    WITH ta_toks AS (
        SELECT string_split(text, ' ') AS t FROM documents
    ),
    ta_elig AS (SELECT t FROM ta_toks WHERE len(t) >= {AFFIX_K}),
    ta_aff AS (
        SELECT 'head' AS kind, array_to_string(t[1:{AFFIX_K}], ' ') AS affix
        FROM ta_elig
        UNION ALL
        SELECT 'tail', array_to_string(t[len(t) - {AFFIX_K - 1}:len(t)], ' ')
        FROM ta_elig
    ),
    ta_fam AS (
        SELECT kind, affix, CAST(COUNT(*) AS BIGINT) AS c
        FROM ta_aff GROUP BY kind, affix HAVING COUNT(*) >= 2
    ),
    ta_agg AS (
        SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_families,
               CAST(SUM(c) AS BIGINT) AS n_docs_in_families,
               CAST(MAX(c) AS BIGINT) AS top_family_docs,
               MIN({{'nc': -c, 'a': affix}}).a AS top_family_affix
        FROM ta_fam GROUP BY kind
    ),
    ta_base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_eligible_docs FROM ta_elig
    ),
    ta_kinds AS (SELECT 'head' AS kind UNION ALL SELECT 'tail')
    SELECT k.kind, b.n_eligible_docs,
           CAST(COALESCE(a.n_families, 0) AS BIGINT) AS n_families,
           CAST(COALESCE(a.n_docs_in_families, 0) AS BIGINT)
               AS n_docs_in_families,
           CAST(COALESCE(a.top_family_docs, 0) AS BIGINT) AS top_family_docs,
           a.top_family_affix
    FROM ta_kinds k CROSS JOIN ta_base b
    LEFT JOIN ta_agg a ON a.kind = k.kind
    ORDER BY k.kind
"""


@register_extra(
    "template_affix_report",
    TEMPLATE_AFFIX_ORACLE,
    description="Head/tail template-family census: docs sharing their "
    "exact first/last affix tokens form a family — the boilerplate "
    "detector near-dup banding misses; one (kind, affix) exchange.",
    tags=("llm", "dedup", "curation"),
)
def template_affix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r16 (staged r14): head/tail template-family census — the
    boilerplate-template detector near-dup banding misses when only the
    AFFIX repeats (mail headers, scraped navigation preambles, footer
    sign-offs): documents sharing their exact first / last {AFFIX_K}
    tokens form a family; report per kind the family count, docs inside
    families, the largest family and its affix (count desc, lex asc via
    the single-buffer argmax). Docs shorter than the affix width are
    excluded (a 1-token "family" is not a template). Scale shape: one
    (kind, affix)-keyed exchange over 2 rows/doc; rollup is 2 rows; the
    eligible-doc count rides as a broadcast single-row aggregate."""
    t = load_tables(spark, sf_dir, ["documents"])
    elig = (
        t["documents"]
        .withColumn("__toks", F.split("text", " "))
        .filter(F.expr(f"size(__toks) >= {AFFIX_K}"))
    )
    aff = elig.select(
        F.explode(
            F.expr(
                f"array(named_struct('kind', 'head', 'affix',"
                f" concat_ws(' ', slice(__toks, 1, {AFFIX_K}))),"
                f" named_struct('kind', 'tail', 'affix',"
                f" concat_ws(' ', slice(__toks, -{AFFIX_K}, {AFFIX_K}))))"
            )
        ).alias("a")
    ).select("a.kind", "a.affix")
    agg = (
        aff.groupBy("kind", "affix")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("c") >= 2)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_families"),
            F.sum("c").cast("long").alias("n_docs_in_families"),
            F.max("c").cast("long").alias("top_family_docs"),
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("affix").alias("a")))
            .getField("a")
            .alias("top_family_affix"),
        )
    )
    kinds = spark.range(1).select(
        F.explode(F.array(F.lit("head"), F.lit("tail"))).alias("kind")
    )
    base = elig.agg(F.count(F.lit(1)).cast("long").alias("n_eligible_docs"))
    return (
        kinds.crossJoin(F.broadcast(base))
        .join(agg, "kind", "left")
        .select(
            "kind",
            "n_eligible_docs",
            F.coalesce(F.col("n_families"), F.lit(0)).cast("long").alias(
                "n_families"
            ),
            F.coalesce(F.col("n_docs_in_families"), F.lit(0))
            .cast("long")
            .alias("n_docs_in_families"),
            F.coalesce(F.col("top_family_docs"), F.lit(0))
            .cast("long")
            .alias("top_family_docs"),
            "top_family_affix",
        )
        .orderBy("kind")
    )


#: Oracle for :func:`corpus_snapshot_delta` (STAGED r16). The two
#: simulated epochs are deterministic doc_id slices; epoch B edits the
#: doc_id % 8 == 2 stratum so every status is populated.
CORPUS_DELTA_ORACLE = """
    WITH cd_a AS (
        SELECT doc_id, text AS text_a FROM documents WHERE doc_id % 4 != 0
    ),
    cd_b AS (
        SELECT doc_id,
               CASE WHEN doc_id % 8 = 2 THEN text || ' v2' ELSE text END
                   AS text_b
        FROM documents WHERE doc_id % 4 != 1
    ),
    cd_j AS (
        SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, a.text_a, b.text_b
        FROM cd_a a FULL JOIN cd_b b ON a.doc_id = b.doc_id
    )
    SELECT CASE WHEN text_a IS NULL THEN 'added'
                WHEN text_b IS NULL THEN 'removed'
                WHEN text_a = text_b THEN 'unchanged'
                ELSE 'changed' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(COALESCE(text_b, text_a))) AS BIGINT)
               AS n_content_hashes
    FROM cd_j GROUP BY 1 ORDER BY status
"""


@register_extra(
    "corpus_snapshot_delta",
    CORPUS_DELTA_ORACLE,
    description="Epoch-over-epoch corpus diff: FULL OUTER id join of two "
    "snapshots with per-status doc + content-hash census — the audit an "
    "incremental training-data refresh runs before re-sharding.",
    tags=("llm", "curation"),
)
def corpus_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r16 (staged r14): epoch-over-epoch corpus diff — the audit an
    incremental training-data refresh runs before re-sharding (how many
    docs arrived, left, changed in place?): FULL OUTER join of two
    snapshots on doc identity, per-status doc counts + distinct content
    hashes. The snapshots here are deterministic doc_id slices (A drops
    the %4==0 stratum, B drops %4==1 and edits %8==2) so added /
    removed / changed / unchanged are all populated and the whole frame
    sits under the hash gate; in production the two sides are the
    previous and current snapshot paths. Scale shape: one id-keyed
    FULL OUTER exchange (both sides shuffle on the same key — AQE can
    co-locate) + a 4-row rollup; content hashing rides scan-side."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    a = docs.filter("doc_id % 4 != 0").select(
        "doc_id", F.col("text").alias("text_a")
    )
    b = docs.filter("doc_id % 4 != 1").select(
        "doc_id",
        F.expr(
            "CASE WHEN doc_id % 8 = 2 THEN concat(text, ' v2') ELSE text END"
        ).alias("text_b"),
    )
    status = (
        F.when(F.col("text_a").isNull(), "added")
        .when(F.col("text_b").isNull(), "removed")
        .when(F.col("text_a") == F.col("text_b"), "unchanged")
        .otherwise("changed")
    )
    return (
        a.join(b, "doc_id", "full_outer")
        .select(
            status.alias("status"),
            F.md5(F.coalesce("text_b", "text_a")).alias("h"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("h").cast("long").alias("n_content_hashes"),
        )
        .orderBy("status")
    )


#: Oracle for :func:`langid_confusion_report` (STAGED r16): the shared
#: scored CTE + prediction CASE (one generator with doc_lang_id's oracle,
#: so the two cannot drift), rolled into the labeled confusion census.
LANGID_CONFUSION_ORACLE = f"""
    WITH scored AS ({_langid_scored_cte()}),
    lc_pred AS (
        SELECT lang, {_LANGID_PRED_SQL} AS lang_pred
        FROM scored WHERE lang IS NOT NULL
    ),
    lc_pairs AS (
        SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM lc_pred GROUP BY lang, lang_pred
    ),
    lc_tot AS (
        SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_true
        FROM lc_pairs GROUP BY lang
    )
    SELECT p.lang, p.lang_pred, p.n_docs,
           p.n_docs * 1000000 // t.n_true AS share_ppm
    FROM lc_pairs p JOIN lc_tot t USING (lang)
    ORDER BY lang, lang_pred
"""


@register_extra(
    "langid_confusion_report",
    LANGID_CONFUSION_ORACLE,
    description="Language-ID confusion census: (true, predicted) doc "
    "counts with per-truth share ppm, sharing doc_lang_id's scored "
    "CTE through one generator so predictor and QA view cannot drift.",
    tags=("llm", "quality", "curation"),
)
def langid_confusion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r16 (staged r14): language-ID confusion census — the curation QA gate
    for the lang-ID heuristic the pipeline routes on (doc_lang_id):
    labeled docs grouped by (true lang, predicted lang) with per-truth
    share ppm, so a drifting predictor (or a mislabeled corpus slice)
    shows up as off-diagonal mass. Reuses the registered
    with_lang_scores kernel verbatim; the oracle shares doc_lang_id's
    scored CTE + precedence CASE through one generator. NULL lang
    excluded (unlabeled docs have no truth row). Scale shape: scan-side
    scoring + one (lang, lang_pred) exchange (|langs|^2 rows) + a
    broadcast-size totals join."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].filter(F.col("lang").isNotNull())
    pairs = (
        TX.with_lang_scores(docs)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    tot = pairs.groupBy("lang").agg(F.sum("n_docs").cast("long").alias("n_true"))
    return (
        pairs.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "lang_pred",
            "n_docs",
            F.expr("n_docs * 1000000L div n_true").alias("share_ppm"),
        )
        .orderBy("lang", "lang_pred")
    )
