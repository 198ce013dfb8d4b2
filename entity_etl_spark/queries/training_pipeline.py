from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._base import (
    CUTOFF,
    DUCK_TS_FMT,
    SPARK_TS_FMT,
    Q,
    REGISTRY,
    _ts_str,
    changed_rows,
    read_sf_table,
    register,
    tsutil,
)
from .ext_dedup_sim import _duck_count_occ


# ---------------------------------------------------------------------------
# Round 2: training-data pipeline surface (PII, quality, packing,
# contamination) + engine-surface breadth (recursive CTE, posexplode,
# catalog, orchestration-as-query)
# ---------------------------------------------------------------------------


@register(
    "pii_redact",
    r"""
    WITH staged AS (
      SELECT doc_id,
             text || ' Contact: user' || CAST(doc_id AS VARCHAR)
                  || '@example.com ip=10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || ' ssn=123-45-6789 tel=+1-555-867-5309' AS txt
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(txt,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
             AS n_email,
           CAST(len(regexp_extract_all(txt, '\b\d{3}-\d{2}-\d{4}\b')) AS INT)
             AS n_ssn,
           CAST(len(regexp_extract_all(txt,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
           CAST(len(regexp_extract_all(txt,
             '\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}')) AS INT) AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(txt,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
             '\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}', '[PHONE]', 'g')
             AS redacted
    FROM staged
    """,
    doc="Training-data hygiene: PII detection counts + masking over "
    "document text (emails, SSNs, IPv4, phone numbers), pure "
    "regexp_count/regexp_replace column expressions — map-only, no "
    "shuffle, the single-scan 100 TB shape (ext/pii.py). Deterministic "
    "PII is injected per doc so the operator is exercised on every row.",
    tags=("ext",),
)
def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.pii import pii_counts, redact_pii

    docs = read_sf_table(spark, sf, "documents")
    staged = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip=10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" ssn=123-45-6789 tel=+1-555-867-5309"),
        ).alias("txt"),
    )
    return staged.select(
        "doc_id", *pii_counts("txt"), redact_pii("txt").alias("redacted")
    )


@register(
    "repetition_quality",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      FROM documents
    ),
    base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, w FROM t),
    uni AS (SELECT doc_id, n_tokens, unnest(w) AS g FROM base),
    uc AS (SELECT doc_id, n_tokens, g, count(*) AS c FROM uni GROUP BY 1, 2, 3),
    ustats AS (
      SELECT doc_id, n_tokens, count(*) AS n_distinct, max(c) AS top1
      FROM uc GROUP BY 1, 2
    ),
    bi AS (
      SELECT doc_id,
             unnest(w[1:len(w)-1]) || ' ' || unnest(w[2:len(w)]) AS g
      FROM base WHERE len(w) >= 2
    ),
    bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
    bstats AS (SELECT doc_id, max(c) AS top2 FROM bc GROUP BY 1)
    SELECT u.doc_id, u.n_tokens,
           round(n_distinct / CAST(n_tokens AS DOUBLE), 6)
             AS distinct_token_frac,
           round(top1 / CAST(n_tokens AS DOUBLE), 6) AS top_token_frac,
           round(coalesce(top2, 0)
                 / CAST(greatest(n_tokens - 1, 1) AS DOUBLE), 6)
             AS top_bigram_frac
    FROM ustats u LEFT JOIN bstats b USING (doc_id)
    """,
    doc="Gopher-style repetition quality signals per document: distinct-"
    "token fraction, top-token fraction, top-bigram fraction — the "
    "standard low-quality filter for pre-training corpora "
    "(ext/text.py repetition_metrics). Shuffle carries only "
    "(doc, gram, count) rows, map-side combined.",
    tags=("ext",),
)
def q_repetition_quality(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.text import repetition_metrics

    docs = read_sf_table(spark, sf, "documents")
    return repetition_metrics(docs, "doc_id", "text")


@register(
    "pack_sequences",
    r"""
    WITH t AS (
      SELECT source AS shard, doc_id AS doc_key,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
      FROM documents
    ),
    o AS (
      SELECT shard, doc_key, n,
             CAST(coalesce(sum(n) OVER (
               PARTITION BY shard ORDER BY doc_key
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS off
      FROM t
    ),
    ex AS (
      SELECT shard, doc_key, off, n,
             unnest(range(off // 1024,
                          (off + greatest(n, 1) - 1) // 1024 + 1)) AS seq_id
      FROM o
    )
    SELECT shard, doc_key, CAST(seq_id AS BIGINT) AS seq_id,
           CAST(least((seq_id + 1) * 1024, off + n)
                - greatest(seq_id * 1024, off) AS BIGINT) AS span_tokens
    FROM ex
    """,
    doc="GPT-style concat-and-chunk sequence packing: documents laid "
    "end-to-end per shard (source column) and sliced into 1024-token "
    "training sequences; docs straddling a boundary split across both "
    "(ext/packing.py). Pure window arithmetic + one explode; packing is "
    "per-shard so the running sum never serializes globally.",
    tags=("ext",),
)
def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.packing import pack_sequences
    from ..ext.text import token_count

    docs = read_sf_table(spark, sf, "documents").select(
        "source", "doc_id", token_count("text").alias("n_tokens")
    )
    return pack_sequences(
        docs, "n_tokens", capacity=1024, shard_col="source", order_col="doc_id"
    )


@register(
    "contamination_check",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS s
      FROM toks, UNNEST(range(1, greatest(len(w) - 4, 0) + 1)) AS t(i)
    ),
    bench AS (SELECT doc_id, s FROM sh WHERE doc_id < 20),
    corp AS (SELECT doc_id, s FROM sh WHERE doc_id >= 20)
    SELECT corp.doc_id,
           CAST(count(*) AS BIGINT) AS n_shared_shingles,
           CAST(count(DISTINCT bench.doc_id) AS BIGINT) AS n_bench_docs
    FROM corp JOIN bench ON corp.s = bench.s
    GROUP BY corp.doc_id
    """,
    doc="Benchmark-contamination check: 5-gram shingle overlap between the "
    "corpus and a held-out benchmark set (docs 0-19) — the standard "
    "eval-leakage scan before training. One equi-join keyed by shingle; "
    "cost scales with shared shingles, not |corpus|x|bench|.",
    tags=("ext",),
)
def q_contamination_check(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.dedup import shingles

    docs = read_sf_table(spark, sf, "documents")
    sh = docs.select(
        "doc_id", F.explode(shingles("text", 5)).alias("s")
    )
    bench = sh.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("bench_id"), "s"
    )
    corp = sh.filter(F.col("doc_id") >= 20)
    return (
        corp.join(bench, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared_shingles"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


@register(
    "fuzzy_verify_levenshtein",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM toks, UNNEST(range(1, greatest(len(w) - 2, 0) + 1)) AS t(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    )
    SELECT doc_a, doc_b,
           CAST(levenshtein(substring(ta.text, 1, 100),
                            substring(tb.text, 1, 100)) AS INT) AS edit_dist
    FROM pairs
    JOIN documents ta ON ta.doc_id = doc_a
    JOIN documents tb ON tb.doc_id = doc_b
    """,
    doc="Edit-distance refinement of near-dup candidates: levenshtein over "
    "100-char prefixes of each candidate pair — the cheap second-stage "
    "verifier (built-in levenshtein, cost scales with candidates, never "
    "|corpus|^2).",
    tags=("ext",),
)
def q_fuzzy_verify_levenshtein(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.dedup import jaccard_pairs

    docs = read_sf_table(spark, sf, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    ta = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.substring("text", 1, 100).alias("__pa"),
    )
    tb = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.substring("text", 1, 100).alias("__pb"),
    )
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("__pa", "__pb").alias("edit_dist"),
        )
    )


@register(
    "posexplode_tokens",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      FROM documents WHERE doc_id < 5
    )
    SELECT doc_id,
           CAST(unnest(range(1, len(w) + 1)) - 1 AS INT) AS pos,
           unnest(w) AS token
    FROM t
    """,
    doc="Position-aware explode (posexplode / LATERAL VIEW surface): "
    "token stream with 0-based positions per document.",
    tags=("functions",),
)
def q_posexplode_tokens(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents").filter(F.col("doc_id") < 5)
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias(
            "pos", "token"
        ),
    )


@register(
    "recursive_weekly_spine",
    """
    WITH RECURSIVE spine(d) AS (
      SELECT CAST('2024-01-01' AS DATE)
      UNION ALL
      SELECT CAST(d + INTERVAL 7 DAY AS DATE) FROM spine
      WHERE d < CAST('2024-01-29' AS DATE)
    )
    SELECT s.d AS week_start, CAST(count(e.event_id) AS BIGINT) AS n_events
    FROM spine s LEFT JOIN events e
      ON CAST(e.ts AS DATE) >= s.d
     AND CAST(e.ts AS DATE) < s.d + INTERVAL 7 DAY
    GROUP BY s.d
    """,
    doc="Recursive CTE (Spark 4 WITH RECURSIVE): weekly date spine "
    "generated by recursion + range-joined event counts — the "
    "gap-preserving rollup pattern without a pre-materialized calendar "
    "table.",
    tags=("analytics",),
)
def q_recursive_weekly_spine(spark: SparkSession, sf: str) -> DataFrame:
    read_sf_table(spark, sf, "events").createOrReplaceTempView(
        "__events_spine_v"
    )
    return spark.sql(
        """
        WITH RECURSIVE spine(d) AS (
          SELECT CAST('2024-01-01' AS DATE)
          UNION ALL
          SELECT CAST(d + INTERVAL 7 DAY AS DATE) FROM spine
          WHERE d < CAST('2024-01-29' AS DATE)
        )
        SELECT s.d AS week_start, CAST(count(e.event_id) AS BIGINT) AS n_events
        FROM spine s LEFT JOIN __events_spine_v e
          ON CAST(e.ts AS DATE) >= s.d
         AND CAST(e.ts AS DATE) < s.d + INTERVAL 7 DAY
        GROUP BY s.d
        """
    )


@register(
    "catalog_discovery",
    """
    SELECT 'region' AS table_name, CAST(count(*) AS BIGINT) AS n_rows, 2 AS n_cols FROM region
    UNION ALL SELECT 'nation', count(*), 3 FROM nation
    UNION ALL SELECT 'customer', count(*), 5 FROM customer
    UNION ALL SELECT 'supplier', count(*), 4 FROM supplier
    UNION ALL SELECT 'part', count(*), 6 FROM part
    UNION ALL SELECT 'orders', count(*), 6 FROM orders
    UNION ALL SELECT 'lineitem', count(*), 11 FROM lineitem
    UNION ALL SELECT 'events', count(*), 6 FROM events
    UNION ALL SELECT 'documents', count(*), 5 FROM documents
    UNION ALL SELECT 'embeddings', count(*), 3 FROM embeddings
    """,
    doc="O2 catalog/type discovery as a driver-checkable query: per-table "
    "row count + column count from the live schemas (reference "
    "discovery loop, app.js:20-27 over configured entity types). Oracle "
    "pins the schema contract.",
    tags=("reference",),
)
def q_catalog_discovery(spark: SparkSession, sf: str) -> DataFrame:
    from functools import reduce

    tables = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    parts = []
    for t in tables:
        d = read_sf_table(spark, sf, t)
        parts.append(
            d.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")).select(
                F.lit(t).alias("table_name"),
                "n_rows",
                F.lit(len(d.columns)).cast("int").alias("n_cols"),
            )
        )
    return reduce(DataFrame.unionByName, parts)


@register(
    "pipeline_incremental_run",
    """
    SELECT CAST(count(*) AS BIGINT) AS input_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS emitted_rows
    FROM events
    """,
    doc="O16 orchestration as a driver-checkable query: one full "
    "run_incremental over the events table from a fresh state dir "
    "(initial checkpoint 1 => full history; empty state => every latest "
    "row emits). Returns the run metrics; batch count is excluded "
    "(partition-layout dependent).",
    tags=("reference",),
)
def q_pipeline_incremental_run(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile

    from ..model import EngineConfig, TableSpec
    from ..pipeline import run_incremental

    events = read_sf_table(spark, sf, "events")
    spec = TableSpec(name="events", id_field="event_id", ts_field="ts")
    projection = [
        {"target": "id", "source": "event_id"},
        {"target": "type", "source": "event_type"},
    ]
    with tempfile.TemporaryDirectory() as td:
        cfg = EngineConfig(state_dir=td)
        res = run_incremental(
            spark, spec, events, projection, cfg, lambda bodies: None
        )
    return spark.createDataFrame(
        [(res.input_rows, res.emitted_rows)],
        "input_rows bigint, emitted_rows bigint",
    )


@register(
    "audio_wav_features",
    """
    -- the decoded features restated over the source floats: the WAV
    -- payload quantizes each embedding half-up to int16 PCM, and int
    -- sample math is exact in double precision, so the oracle reproduces
    -- the full binary round trip relationally.
    SELECT vec_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(len(embedding) AS INT) AS n_samples,
           round(sqrt(list_sum(list_transform(embedding,
             x -> pow(greatest(least(floor(CAST(x AS DOUBLE) * 32767 + 0.5),
                               32767), -32768), 2))) / len(embedding)), 6)
             AS rms,
           CAST(list_max(list_transform(embedding,
             x -> abs(greatest(least(floor(CAST(x AS DOUBLE) * 32767 + 0.5),
                               32767), -32768)))) AS INT) AS peak_abs
    FROM embeddings
    """,
    doc="E5 with a REAL decoder: embeddings -> 16-bit PCM WAV blobs -> "
    "RIFF header parse + numpy sample decode -> per-clip features "
    "(ext/audio.py). Two Arrow mapInPandas passes; blobs never shuffle. "
    "Oracle re-derives the decoded stats from the source floats through "
    "the exact int16 quantization.",
    tags=("ext",),
)
def q_audio_wav_features(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.audio import decode_wav_features, synthesize_wav

    emb = read_sf_table(spark, sf, "embeddings")
    return decode_wav_features(synthesize_wav(emb))


@register(
    "image_bmp_features",
    """
    SELECT vec_id,
           CAST(8 AS INT) AS width,
           CAST(8 AS INT) AS height,
           round(list_sum(list_transform(embedding,
             x -> greatest(least(floor((CAST(x AS DOUBLE) + 1) / 2 * 255
                                       + 0.5), 255), 0)))
                 / len(embedding), 6) AS mean_pixel
    FROM embeddings
    """,
    doc="E5 with a REAL decoder: embeddings -> uncompressed 24-bit BMP "
    "blobs -> BITMAPINFOHEADER parse + numpy pixel decode (bottom-up row "
    "flip) -> per-image features (ext/image.py). Oracle re-derives the "
    "mean pixel from the source floats through the exact byte "
    "quantization.",
    tags=("ext",),
)
def q_image_bmp_features(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.image import decode_bmp_features, synthesize_bmp

    emb = read_sf_table(spark, sf, "embeddings")
    return decode_bmp_features(synthesize_bmp(emb))


@register(
    "image_png_features",
    """
    -- the Spark side round-trips every embedding through a REAL zlib-
    -- deflated, scanline-filtered PNG (all five filter types, CRC-checked
    -- chunks); the oracle re-derives the decoded stats from the source
    -- floats through the exact byte quantization. paeth_rows pins that
    -- the decoder read the per-scanline filter bytes: rows 0..7 carry
    -- filters (0,1,2,3,4,0,1,2) by construction, exactly one Paeth.
    SELECT vec_id,
           CAST(8 AS INT) AS width,
           CAST(8 AS INT) AS height,
           round(list_sum(list_transform(embedding,
             x -> greatest(least(floor((CAST(x AS DOUBLE) + 1) / 2 * 255
                                       + 0.5), 255), 0)))
                 / len(embedding), 6) AS mean_pixel,
           CAST(1 AS INT) AS paeth_rows
    FROM embeddings
    """,
    doc="E5 with a REAL COMPRESSED decoder (no codec library): embeddings "
    "-> 8-bit grayscale PNG blobs (stdlib zlib DEFLATE, filter types "
    "0-4 cycled per scanline) -> chunk walk with CRC32 verification, "
    "IDAT inflate, Sub/Up/Average/Paeth defiltering (ext/image.py "
    "_decode_png) -> per-image features. Two Arrow mapInPandas passes; "
    "blobs never shuffle (map-only seam, same shape as image_bmp_"
    "features). The oracle restates the mean through the exact byte "
    "quantization — a defilter or inflate bug cannot hash-match.",
    tags=("ext",),
)
def q_image_png_features(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.image import decode_png_features, synthesize_png

    emb = read_sf_table(spark, sf, "embeddings")
    return decode_png_features(synthesize_png(emb))


@register(
    "image_gif_features",
    """
    -- the Spark side round-trips every embedding through a REAL GIF87a
    -- (LZW variable-width codes, 255-byte sub-blocks, 256-entry gray
    -- palette); the oracle re-derives the decoded stats from the source
    -- floats through the exact byte quantization. clear_codes pins that
    -- the decoder consumed the LZW control codes (exactly one CLEAR at
    -- stream start for sub-4096-entry streams).
    SELECT vec_id,
           CAST(8 AS INT) AS width,
           CAST(8 AS INT) AS height,
           round(list_sum(list_transform(embedding,
             x -> greatest(least(floor((CAST(x AS DOUBLE) + 1) / 2 * 255
                                       + 0.5), 255), 0)))
                 / len(embedding), 6) AS mean_pixel,
           CAST(1 AS INT) AS clear_codes
    FROM embeddings
    """,
    doc="E5 second REAL COMPRESSED decoder, a different compression "
    "family from PNG's DEFLATE: embeddings -> 8-bit gray GIF87a blobs "
    "(dictionary LZW, variable code width 9->12, CLEAR/EOI control "
    "codes, LSB-first bit packing, 255-byte sub-blocks; ext/image.py "
    "_lzw_encode/_lzw_decode) -> block walk, de-block, LZW inflate, "
    "palette mapping -> per-image features. Two Arrow mapInPandas "
    "passes; blobs never shuffle (map-only seam, same shape as "
    "image_png_features). The oracle restates the mean through the "
    "exact byte quantization — a code-width or control-code bug "
    "cannot hash-match.",
    tags=("ext",),
)
def q_image_gif_features(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.image import decode_gif_features, synthesize_gif

    emb = read_sf_table(spark, sf, "embeddings")
    return decode_gif_features(synthesize_gif(emb))


@register(
    "image_jpeg_features",
    """
    -- the Spark side round-trips every embedding through a REAL
    -- baseline JFIF encode/decode (level shift, 8x8 DCT, all-ones
    -- quantization, zigzag, DC difference coding across the two MCUs,
    -- AC run/size RLE, canonical Annex-K Huffman read back FROM the
    -- stream's DHT, 0xFF00 byte unstuffing, inverse DCT). JPEG is
    -- LOSSY, so the decoded mean has no ANSI restatement — the
    -- decidable cross-engine claims are the dims, the MCU count, the
    -- SOURCE mean through the exact byte quantization, and the
    -- reconstruction-error bound (all-ones quant makes forward-DCT
    -- coefficient rounding the ONLY error source; measured max |err|
    -- = 1 on every fixture decade, gated at <= 2). A Huffman, EXTEND,
    -- dequant, stuffing, or IDCT bug produces gross pixel error and
    -- cannot hash-match the pinned gate.
    SELECT vec_id,
           CAST(16 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(2 AS INT) AS n_blocks,
           round(list_sum(list_transform(embedding,
             x -> greatest(least(floor((CAST(x AS DOUBLE) + 1) / 2 * 255
                                       + 0.5), 255), 0)))
                 / len(embedding), 6) AS src_mean_pixel,
           true AS max_err_le_2
    FROM embeddings
    """,
    doc="E5 third REAL COMPRESSED decoder and the first LOSSY one "
    "(baseline JPEG/JFIF, ITU-T T.81, stdlib+numpy only; ext/image.py "
    "_encode_jpeg/_decode_jpeg): embeddings -> 16x8 two-MCU gray JFIF "
    "blobs ([g | reverse(g)], so DC prediction across MCUs is real "
    "while the pixel sum stays exactly derivable) -> marker walk, "
    "DQT/SOF0/DHT parsed from the stream, Huffman + EXTEND entropy "
    "decode, dequant, inverse DCT, level shift -> decoded pixels. The "
    "error gate runs JVM-side: zip_with/aggregate over the decoded "
    "array vs the relationally-derived source gray. Two Arrow "
    "mapInPandas passes; blobs never shuffle.",
    tags=("ext",),
)
def q_image_jpeg_features(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.image import decode_jpeg_pixels, synthesize_jpeg

    emb = read_sf_table(spark, sf, "embeddings")
    dec = decode_jpeg_pixels(synthesize_jpeg(emb))
    # relationally-derived expected image: g = half-up byte quantization
    # of the embedding; row r of the 16-wide image is g[8r:8r+8] then
    # reverse(g)[8r:8r+8] — all codegen built-ins, no Python
    g = F.transform(
        F.col("embedding"),
        lambda x: F.greatest(
            F.least(
                F.floor((x.cast("double") + 1.0) / 2.0 * 255.0 + 0.5),
                F.lit(255.0),
            ),
            F.lit(0.0),
        ).cast("int"),
    )
    expected = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda r: F.concat(
                F.slice(F.col("__g"), r * 8 + 1, 8),
                F.slice(F.reverse(F.col("__g")), r * 8 + 1, 8),
            ),
        )
    )
    src = (
        read_sf_table(spark, sf, "embeddings")
        .select("vec_id", g.alias("__g"))
        .select(
            "vec_id",
            expected.alias("__exp"),
            (
                F.aggregate(
                    F.col("__g"),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x.cast("bigint"),
                )
                / F.size("__g")
            ).alias("__src_mean"),
        )
    )
    return dec.join(src, "vec_id").select(
        "vec_id",
        "width",
        "height",
        "n_blocks",
        F.round(F.col("__src_mean"), 6).alias("src_mean_pixel"),
        (
            F.array_max(
                F.zip_with(
                    F.col("pixels"),
                    F.col("__exp"),
                    lambda a, b: F.abs(a - b),
                )
            )
            <= 2
        ).alias("max_err_le_2"),
    )


@register(
    "image_jpeg_420_color",
    """
    -- color 4:2:0 JPEG with REAL quantization (the T.81 Annex K.1/K.2
    -- example tables — the de-facto quality-50 tables web JPEGs scale)
    -- and separate luma/chroma Huffman tables, all carried in-stream.
    -- One MCU: four 8x8 luma blocks (2x2 sampling) + subsampled Cb/Cr.
    -- Decidable cross-engine claims: dims, total block count, the
    -- SOURCE luma mean through the exact byte quantization (the Y
    -- tiling [g,rev;rev,g] averages to mean(g)), and per-plane SSE
    -- bounds PROVABLE from the quantizer (per coeff |err| <= q_i/2,
    -- DCT orthonormal => per-block SSE <= (||q/2||_2 + 4)^2; module
    -- constants JPEG420_Y_SSE_BOUND / JPEG420_C_SSE_BOUND; measured
    -- ~0.3x the bound on every fixture decade).
    SELECT vec_id,
           CAST(16 AS INT) AS width,
           CAST(16 AS INT) AS height,
           CAST(6 AS INT) AS n_blocks,
           round(list_sum(list_transform(embedding,
             x -> greatest(least(floor((CAST(x AS DOUBLE) + 1) / 2 * 255
                                       + 0.5), 255), 0)))
                 / len(embedding), 6) AS src_mean_pixel,
           true AS y_err_bounded,
           true AS cb_err_bounded,
           true AS cr_err_bounded
    FROM embeddings
    """,
    doc="E5 color upgrade of image_jpeg_features (VERDICT r9 item 5): "
    "embeddings -> byte gray g -> Y=[g,rev;rev,g] 16x16, Cb=255-g, "
    "Cr=rev(g) 8x8 -> 3-component 4:2:0 baseline JFIF (Annex K quant "
    "+ luma/chroma Huffman tables; ext/image.py _encode_jpeg_420) -> "
    "the generalized multi-component MCU decoder "
    "(_decode_jpeg_planes: SOF sampling factors, per-component DC "
    "prediction, interleaved 2x2+1+1 block order, per-table dequant) "
    "-> per-plane pixels. SSE gates run JVM-side vs the relationally "
    "derived planes. Two Arrow passes; blobs never shuffle.",
    tags=("ext",),
)
def q_image_jpeg_420_color(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.image import (
        JPEG420_C_SSE_BOUND,
        JPEG420_Y_SSE_BOUND,
        decode_jpeg_420_planes,
        synthesize_jpeg_420,
    )

    emb = read_sf_table(spark, sf, "embeddings")
    dec = decode_jpeg_420_planes(synthesize_jpeg_420(emb))
    g = F.transform(
        F.col("embedding"),
        lambda x: F.greatest(
            F.least(
                F.floor((x.cast("double") + 1.0) / 2.0 * 255.0 + 0.5),
                F.lit(255.0),
            ),
            F.lit(0.0),
        ).cast("int"),
    )

    def rows_of(left, right):
        return F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda r: F.concat(
                    F.slice(left, r * 8 + 1, 8),
                    F.slice(right, r * 8 + 1, 8),
                ),
            )
        )

    gc = F.col("__g")
    rev = F.reverse(F.col("__g"))
    src = (
        read_sf_table(spark, sf, "embeddings")
        .select("vec_id", g.alias("__g"))
        .select(
            "vec_id",
            F.concat(rows_of(gc, rev), rows_of(rev, gc)).alias("__expy"),
            F.transform(gc, lambda x: F.lit(255) - x).alias("__expcb"),
            rev.alias("__expcr"),
            (
                F.aggregate(
                    gc,
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x.cast("bigint"),
                )
                / F.size(gc)
            ).alias("__src_mean"),
        )
    )

    def sse(dec_col, exp_col):
        return F.aggregate(
            F.zip_with(
                F.col(dec_col),
                F.col(exp_col),
                lambda a, b: (a - b).cast("bigint") * (a - b).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    return dec.join(src, "vec_id").select(
        "vec_id",
        "width",
        "height",
        "n_blocks",
        F.round(F.col("__src_mean"), 6).alias("src_mean_pixel"),
        (sse("y_pixels", "__expy") <= F.lit(JPEG420_Y_SSE_BOUND)).alias(
            "y_err_bounded"
        ),
        (sse("cb_pixels", "__expcb") <= F.lit(JPEG420_C_SSE_BOUND)).alias(
            "cb_err_bounded"
        ),
        (sse("cr_pixels", "__expcr") <= F.lit(JPEG420_C_SSE_BOUND)).alias(
            "cr_err_bounded"
        ),
    )


@register(
    "bloom_membership_prefilter",
    """
    -- membership truths the sketch must satisfy, restated relationally:
    -- zero false negatives (every true member survives the prefilter) and
    -- a bounded false-positive rate (observed 0.1% at these parameters;
    -- gated at 2%).
    SELECT CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                    THEN event_id END) AS BIGINT) AS n_exact,
           true AS no_false_negatives,
           true AS fp_rate_ok
    FROM events
    """,
    doc="E6/runtime-filter: distributed Bloom filter in pure DataFrame ops "
    "(ext/bloom.py) — k xxhash64 bit positions per key OR-folded into "
    "64-bit words by bit_or, broadcast to prefilter the probe side "
    "map-side (no probe-side shuffle). Build over purchase event ids, "
    "probe all ids; asserts no-false-negative and the FP-rate bound.",
    tags=("ext",),
)
def q_bloom_membership_prefilter(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.bloom import build_bloom, probe_bloom

    ev = read_sf_table(spark, sf, "events")
    members = ev.filter(F.col("event_type") == "purchase").select(
        "event_id"
    ).distinct()
    probe = ev.select("event_id").distinct()
    bloom = build_bloom(members, "event_id")
    probable = probe_bloom(probe, "event_id", bloom)
    n_exact = members.count()
    n_total = probe.count()
    covered = probable.join(members, "event_id", "left_semi").count()
    n_prob = probable.count()
    return spark.createDataFrame(
        [
            (
                n_exact,
                covered == n_exact,
                (n_prob - n_exact) <= 0.02 * max(n_total - n_exact, 1),
            )
        ],
        "n_exact bigint, no_false_negatives boolean, fp_rate_ok boolean",
    )


@register(
    "approx_percentile_check",
    """
    SELECT event_type, true AS within_1pct
    FROM events GROUP BY event_type
    """,
    doc="E6 approx quantile sketch stated decidably: per event_type the "
    "percentile_approx(0.5, accuracy=10000) estimate must land within 1% "
    "of the exact interpolated median (observed error <= 0.085%); "
    "cross-engine sketches differ, the epsilon bound does not.",
    tags=("analytics",),
)
def q_approx_percentile_check(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile_approx(value, 0.5, 10000)").alias("__a"),
            F.expr("percentile(value, 0.5)").alias("__e"),
        )
        .select(
            "event_type",
            (
                F.abs(F.col("__a") - F.col("__e"))
                / F.greatest(F.abs(F.col("__e")), F.lit(1e-9))
                <= 0.01
            ).alias("within_1pct"),
        )
    )


@register(
    "zorder_clustering_key",
    """
    SELECT o_orderkey,
           CAST(o_custkey % 1024 AS BIGINT) AS x,
           CAST(dayofyear(o_orderdate) % 1024 AS BIGINT) AS y,
           CAST(list_sum(list_transform(range(0, 10),
             i -> (((o_custkey % 1024 >> i) & 1) << (2 * i))
                + (((dayofyear(o_orderdate) % 1024 >> i) & 1) << (2 * i + 1))
           )) AS BIGINT) AS z
    FROM orders WHERE o_orderkey < 200
    """,
    doc="Data-layout surface: Z-order (Morton) clustering key — bit "
    "interleave of (customer, day-of-year) so range predicates on either "
    "dimension prune contiguous key ranges (ext/layout.py; "
    "cluster_by_zorder does repartitionByRange + sortWithinPartitions "
    "over this key). Pure bit arithmetic, engine-portable.",
    tags=("ext",),
)
def q_zorder_clustering_key(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.layout import zorder_key

    orders = read_sf_table(spark, sf, "orders").filter(F.col("o_orderkey") < 200)
    x = (F.col("o_custkey") % 1024).cast("long")
    y = (F.dayofyear("o_orderdate") % 1024).cast("long")
    return orders.select(
        "o_orderkey",
        x.alias("x"),
        y.alias("y"),
        zorder_key(x, y, bits=10).alias("z"),
    )


@register(
    "incremental_rollup_merge",
    """
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="Incremental view maintenance: the daily rollup is maintained as "
    "mergeable partial-agg state — the pre-checkpoint rollup (old state) "
    "unions with the post-checkpoint delta's rollup and re-aggregates "
    "(sum-of-counts, sum-of-sums). The oracle is the full recompute: "
    "MATCH proves merge(old_state, delta) == recompute(all), i.e. the "
    "engine can maintain 100 TB rollups without rescanning history.",
    tags=("analytics",),
)
def q_incremental_rollup_merge(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    cut = F.lit("2024-01-15").cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.col("ts").cast("date").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sv"),
        )

    old_state = rollup(ev.filter(F.col("ts") < cut))     # persisted rollup
    delta = rollup(ev.filter(F.col("ts") >= cut))        # new data only
    merged = (
        old_state.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    )
    return merged.select(
        "day", "event_type", F.col("n").cast("bigint").alias("n"),
        F.round("sv", 2).alias("total_value"),
    )


@register(
    "pandas_udaf_geomean",
    """
    SELECT event_type,
           round(exp(avg(ln(value))), 6) AS geo_mean
    FROM events WHERE value > 0 GROUP BY event_type
    """,
    doc="True UDAF surface: a pandas_udf GROUPED_AGG aggregator (geometric "
    "mean via numpy) — Arrow-batched per group, the escape hatch for "
    "aggregations Spark lacks. Oracle restates it as exp(avg(ln)).",
    tags=("functions",),
)
def q_pandas_udaf_geomean(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: queries.py uses `from __future__ import
    # annotations`, which stringifies hints and defeats signature inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geo_mean(v):
        return float(np.exp(np.log(v.to_numpy(dtype=np.float64)).mean()))

    ev = read_sf_table(spark, sf, "events").filter(F.col("value") > 0)
    return ev.groupBy("event_type").agg(
        F.round(geo_mean("value"), 6).alias("geo_mean")
    )


@register(
    "pandas_scalar_udf_logistic",
    """
    SELECT event_id,
           round(1 / (1 + exp(-(value - 35) / 10)), 6) AS score
    FROM events WHERE event_id < 1000
    """,
    doc="Vectorized SCALAR pandas UDF surface: logistic scoring over Arrow "
    "batches (numpy) — the 10-100x-over-row-Python path for logic that "
    "genuinely needs Python. Oracle restates the closed form.",
    tags=("functions",),
)
def q_pandas_scalar_udf_logistic(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("double", PandasUDFType.SCALAR)
    def logistic(v):
        x = v.to_numpy(dtype=np.float64)
        return pd.Series(1.0 / (1.0 + np.exp(-(x - 35.0) / 10.0)))

    ev = read_sf_table(spark, sf, "events").filter(F.col("event_id") < 1000)
    return ev.select(
        "event_id", F.round(logistic("value"), 6).alias("score")
    )


@register(
    "window_range_frame",
    """
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
           round(sum(value) OVER w, 2) AS v_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    doc="RANGE-frame window (value-based, not row-based): per user, the "
    "trailing-hour event count and value sum at every event — the "
    "point-in-time feature-engineering frame (leakage-free trailing "
    "aggregates for training data).",
    tags=("analytics",),
)
def q_window_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_sf_table(spark, sf, "events")
    # order by exact integer epoch micros (NTZ-safe, tz-free) and widen the
    # frame to micros: j in frame <=> ts_j >= ts_i - 3600s, exactly the
    # oracle's RANGE 3600 PRECEDING over epoch seconds — no float boundary
    w = (
        Window.partitionBy("user_id")
        .orderBy(tsutil.epoch_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 2).alias("v_last_hour"),
    )


@register(
    "mode_aggregate",
    """
    SELECT user_id, min(m) AS top_type FROM (
      SELECT user_id, event_type AS m,
             rank() OVER (PARTITION BY user_id ORDER BY count(*) DESC)
               AS rnk
      FROM events GROUP BY user_id, event_type
    ) WHERE rnk = 1 GROUP BY user_id
    """,
    doc="mode() aggregate (Spark 4 deterministic mode): each user's most "
    "frequent event type; ties broken by taking the minimum value so both "
    "engines agree. Oracle restates mode as rank-over-counts.",
    tags=("analytics",),
)
def q_mode_aggregate(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    # deterministic=true -> lowest value among equally-frequent candidates
    return ev.groupBy("user_id").agg(
        F.expr("mode(event_type, true)").alias("top_type")
    )


@register(
    "try_arithmetic_funcs",
    """
    SELECT event_id,
           CASE WHEN value = 0 THEN NULL ELSE round(100 / value, 6) END
             AS safe_div,
           TRY_CAST(event_type AS DOUBLE) AS bad_cast,
           TRY_CAST(CAST(event_id AS VARCHAR) AS BIGINT) AS good_cast
    FROM events WHERE event_id < 2000
    """,
    doc="ANSI null-safety surface: try_divide / try_cast return NULL "
    "instead of raising on bad input — the fault-tolerant expression set "
    "a dirty 100 TB corpus needs (no task retries from one bad row).",
    tags=("functions",),
)
def q_try_arithmetic_funcs(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events").filter(F.col("event_id") < 2000)
    return ev.select(
        "event_id",
        F.round(F.try_divide(F.lit(100), F.col("value")), 6).alias("safe_div"),
        F.try_to_number(F.col("event_type"), F.lit("999")).cast("double").alias(
            "bad_cast"
        ),
        F.col("event_id").cast("string").try_cast("bigint").alias("good_cast"),
    )


@register(
    "array_higher_order_funcs",
    """
    WITH t AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE vec_id < 100
    )
    SELECT vec_id,
           CAST(len(list_filter(e, x -> x > 0)) AS INT) AS n_positive,
           CAST(list_bool_or(list_transform(e, x -> abs(x) > 0.2)) AS BOOLEAN)
             AS any_large,
           CAST(list_bool_and(list_transform(e, x -> abs(x) < 1)) AS BOOLEAN)
             AS all_unit,
           round(list_sum(list_transform(e, x -> x * x)), 6) AS sum_sq
    FROM t
    """,
    doc="Array higher-order functions (filter / exists / forall / "
    "aggregate): per-vector predicates and folds entirely JVM-side — the "
    "lambda surface that keeps array logic out of Python.",
    tags=("functions",),
)
def q_array_higher_order_funcs(spark: SparkSession, sf: str) -> DataFrame:
    emb = read_sf_table(spark, sf, "embeddings").filter(F.col("vec_id") < 100)
    e = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size(F.filter(e, lambda x: x > 0)).alias("n_positive"),
        F.exists(e, lambda x: F.abs(x) > 0.2).alias("any_large"),
        F.forall(e, lambda x: F.abs(x) < 1).alias("all_unit"),
        F.round(
            F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x * x), 6
        ).alias("sum_sq"),
    )


@register(
    "format_roundtrip_orc_csv",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS checksum,
           true AS orc_matches, true AS csv_matches
    FROM documents
    """,
    doc="Format/connector surface: documents round-trip through ORC and "
    "CSV (write + read back under /tmp) and must reproduce the row count "
    "and a content checksum exactly — the storage-format portability "
    "claim as a driver row.",
    tags=("functions",),
)
def q_format_roundtrip_orc_csv(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile

    docs = read_sf_table(spark, sf, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    agg = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("ck")
    ).first()
    with tempfile.TemporaryDirectory() as td:
        docs.write.mode("overwrite").orc(td + "/o")
        docs.write.mode("overwrite").option("header", True).csv(td + "/c")
        o = spark.read.orc(td + "/o").agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("ck")
        ).first()
        c = (
            spark.read.option("header", True)
            .schema("doc_id long, lang string, source string, n_chars long")
            .csv(td + "/c")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("ck"))
            .first()
        )
    return spark.createDataFrame(
        [
            (
                agg["n"],
                agg["ck"],
                (o["n"], o["ck"]) == (agg["n"], agg["ck"]),
                (c["n"], c["ck"]) == (agg["n"], agg["ck"]),
            )
        ],
        "n_rows bigint, checksum bigint, orc_matches boolean, csv_matches boolean",
    )


@register(
    "asof_join_forward",
    f"""
    SELECT p.event_id,
           p.user_id,
           strftime(p.ts, '{DUCK_TS_FMT}') AS purchase_ts,
           strftime(s.ts, '{DUCK_TS_FMT}') AS next_signup_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts <= s.ts
    """,
    doc="Forward as-of join (pd.merge_asof direction='forward'): the "
    "EARLIEST signup at-or-after each purchase per user — same "
    "union + last-value window shape, descending time order.",
    tags=("custom",),
)
def q_asof_join_forward(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import asof_join

    ev = read_sf_table(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    out = asof_join(
        purchases, signups, "user_id", "ts", "signup_ts", ["signup_ts"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        _ts_str(F.col("ts")).alias("purchase_ts"),
        _ts_str(F.col("signup_ts")).alias("next_signup_ts"),
    )


@register(
    "argmax_histogram_funcs",
    """
    WITH am AS (
      SELECT event_type, max(value) AS max_value
      FROM events GROUP BY event_type
    ),
    winner AS (
      SELECT e.event_type, CAST(max(e.event_id) AS BIGINT) AS max_event_id
      FROM events e JOIN am ON e.event_type = am.event_type
                         AND e.value = am.max_value
      GROUP BY e.event_type
    ),
    hist AS (
      -- width_bucket(value, 0, 50, 10) restated (DuckDB lacks the fn):
      -- 10 buckets of width 5, underflow -> 0, overflow -> 11
      SELECT event_type,
             CASE WHEN value < 0 THEN 0
                  WHEN value >= 50 THEN 11
                  ELSE CAST(floor(value / 5) + 1 AS BIGINT) END AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT h.event_type, h.bucket, h.n, w.max_event_id,
           round(am.max_value, 4) AS max_value
    FROM hist h
    JOIN winner w ON w.event_type = h.event_type
    JOIN am ON am.event_type = h.event_type
    """,
    doc="argmax/argmin + histogram surface: max_by with a struct ordering "
    "key (deterministic tie-break on id) and width_bucket value "
    "histograms — the 'which row achieved the aggregate' pattern without "
    "a self-join (one aggregation, no re-scan).",
    tags=("analytics",),
)
def q_argmax_histogram_funcs(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    per_type = ev.groupBy("event_type").agg(
        F.expr("max_by(event_id, struct(value, event_id))").alias(
            "max_event_id"
        ),
        F.round(F.max("value"), 4).alias("max_value"),
    )
    hist = ev.groupBy(
        "event_type",
        F.expr("width_bucket(value, 0, 50, 10)").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return hist.join(per_type, "event_type").select(
        "event_type", "bucket", "n", "max_event_id", "max_value"
    )


@register(
    "bpe_token_counts",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'
           )) AS BIGINT) AS n_bpe_pretokens
    FROM documents
    """,
    doc="E4 token counting, BPE-ish: the GPT-2 pre-tokenizer regex "
    "(contraction suffixes, letter runs, digit runs, punctuation runs, "
    "whitespace — lookahead dropped for RE2 compatibility) counted per "
    "document. The whitespace twin is `token_counts`; real BPE merges "
    "would run as an Arrow UDF over these pre-token streams.",
    tags=("ext",),
)
def q_bpe_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    pat = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))
        .cast("bigint")
        .alias("n_bpe_pretokens"),
    )


@register(
    "union_schema_evolution",
    """
    SELECT event_id, event_type, value, NULL AS extra_tag FROM events
    WHERE event_type = 'purchase'
    UNION ALL
    SELECT event_id, event_type, NULL AS value, 'legacy' AS extra_tag
    FROM events WHERE event_type = 'signup'
    """,
    doc="Schema-drift union (the reference's schemaless entity model, "
    "SURVEY §1.3): two snapshots with different column sets union by NAME "
    "with missing columns null-filled (unionByName allowMissingColumns) — "
    "the append path when a source adds/drops fields between runs.",
    tags=("functions",),
)
def q_union_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    old_shape = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "event_type", "value"
    )
    new_shape = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "event_type", F.lit("legacy").alias("extra_tag")
    )
    return old_shape.unionByName(new_shape, allowMissingColumns=True).select(
        "event_id",
        "event_type",
        "value",
        F.col("extra_tag").cast("string").alias("extra_tag"),
    )


@register(
    "approx_topk_tokens",
    """
    SELECT CAST(5 AS INT) AS k,
           true AS counts_exact,
           true AS within_exact_top10
    FROM (SELECT 1)
    """,
    doc="E6 frequent-items sketch (approx_top_k) over the exploded token "
    "stream, stated decidably: each sketched (item, count) must carry the "
    "EXACT count (the tracker is sized above the distinct-token count) "
    "and sit inside the exact top-10 (set containment dodges tie-order "
    "ambiguity at the boundary).",
    tags=("ext",),
)
def q_approx_topk_tokens(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )
    approx = (
        toks.agg(F.expr("approx_top_k(tok, 5, 100000)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("tok"), F.col("e.count").alias("ac"))
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("ec"))
    top10 = exact.orderBy(F.desc("ec"), "tok").limit(10)
    joined = approx.join(exact, "tok", "left").join(
        top10.select("tok", F.lit(True).alias("in10")), "tok", "left"
    )
    return joined.agg(
        F.count(F.lit(1)).cast("int").alias("k"),
        F.min(F.col("ac") == F.col("ec")).alias("counts_exact"),
        F.min(F.coalesce("in10", F.lit(False))).alias("within_exact_top10"),
    )


@register(
    "mixture_resample",
    """
    -- the mixture arithmetic restated: per-source acceptance rates applied
    -- to a uniform deterministic hash of the doc id. hash(doc_id) must be
    -- engine-portable, so the uniform variate is (doc_id * 2654435761) %
    -- 1000 / 1000 (Knuth multiplicative hash — identical integer math in
    -- any engine), not an engine hash function.
    WITH rates AS (
      SELECT DISTINCT source,
             CASE CAST(substring(source, 4) AS INT) % 4
               WHEN 0 THEN 1.0 WHEN 1 THEN 0.5
               WHEN 2 THEN 0.25 ELSE 0.1 END AS rate
      FROM documents
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE ((d.doc_id * 2654435761) % 1000) / 1000.0 < r.rate
    """,
    doc="Training-mixture resampling: per-source acceptance rates (the "
    "'data mixture' knob — upsample books/wiki, downsample news) applied "
    "via a deterministic per-doc uniform variate, so the sample is "
    "reproducible, growth-stable, and needs no shuffle (broadcast the "
    "rate table, filter map-side).",
    tags=("ext",),
)
def q_mixture_resample(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    # per-source mixture weights cycling 1.0 / 0.5 / 0.25 / 0.1 over the
    # corpus's sources (a real deployment supplies this table)
    weights = [1.0, 0.5, 0.25, 0.1]
    rates = (
        docs.select("source")
        .distinct()
        .withColumn(
            "rate",
            F.element_at(
                F.array(*[F.lit(w) for w in weights]),
                (F.substring("source", 4, 10).cast("int") % 4) + 1,
            ),
        )
    )
    u = (F.col("doc_id") * F.lit(2654435761)) % 1000 / 1000.0
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(u < F.col("rate"))
        .select("doc_id", "source")
    )


@register(
    "json_corrupt_records",
    """
    -- staged fixture: 4 valid JSONL lines + 2 corrupt ones (see the Spark
    -- side); PERMISSIVE mode must keep valid rows and capture bad lines in
    -- _corrupt_record instead of failing the scan.
    SELECT CAST(4 AS BIGINT) AS n_good, CAST(2 AS BIGINT) AS n_corrupt,
           CAST(30 AS BIGINT) AS sum_good_x
    FROM (SELECT 1)
    """,
    doc="Dirty-ingest surface: PERMISSIVE JSON reading with "
    "columnNameOfCorruptRecord — one bad line quarantines into "
    "_corrupt_record, the scan survives, valid rows flow on. At 100 TB a "
    "FAILFAST scan over crawled JSON is not an option.",
    tags=("functions",),
)
def q_json_corrupt_records(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import tempfile

    lines = [
        '{"id": 1, "x": 5}',
        '{"id": 2, "x": 10}',
        'this is not json at all',
        '{"id": 3, "x": 7}',
        '{"id": 4, "x": 8}',
        '{"id": 5, "x": ',
    ]
    td = tempfile.mkdtemp(prefix="spark_graft_json_")
    path = os.path.join(td, "rows.jsonl")
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
    df = (
        spark.read.schema("id long, x long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    ).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    return spark.createDataFrame(
        [(good.count(), bad.count(),
          good.agg(F.sum("x")).first()[0])],
        "n_good bigint, n_corrupt bigint, sum_good_x bigint",
    )


@register(
    "embedding_pq_topk",
    """
    -- float k-means codebooks forbid pinning the result set (summation
    -- order wobbles cluster boundaries); the decidable claim is the
    -- recall floor of the full PQ pipeline: auto-scaled ADC shortlist
    -- (max(50, 1% of corpus) — fixed 50 lost the floor at sf1, r5) +
    -- exact rerank observed at 0.96 recall@5, gated with margin at 0.8.
    SELECT CAST(5 * (SELECT count(*) FROM embeddings WHERE vec_id < 10)
                AS BIGINT) AS n_truth_pairs,
           true AS recall_ok
    FROM (SELECT 1)
    """,
    doc="E3 scale path #3 — product quantization (memory-bound ANN): "
    "per-subspace k-means codebooks (m=16, k=32), 16-byte codes replace "
    "64-dim float vectors at scan time, ADC lookup-table scoring, exact "
    "rerank of an auto-scaled shortlist (max(50, 1% of corpus) — "
    "ext/pq.py). Stated decidably as a recall floor vs brute force.",
    tags=("ext", "bench2"),
)
def q_embedding_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.pq import encode_pq, pq_topk_reranked, train_pq_codebooks
    from ..ext.similarity import topk_brute_force

    emb = read_sf_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    books = train_pq_codebooks(emb, m=16, k=32, iterations=2)
    codes = encode_pq(emb, books)
    approx = pq_topk_reranked(
        emb, codes, queries, books, k=5, shortlist=None
    ).select(F.col("query_id").alias("q2"), F.col("neighbor_id").alias("n2"))
    exact = topk_brute_force(emb, queries, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    )
    hit = exact.join(
        approx,
        (exact.query_id == approx.q2) & (exact.neighbor_id == approx.n2),
        "left",
    )
    return hit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth_pairs"),
        (F.count("n2") / F.count(F.lit(1)) >= 0.8).alias("recall_ok"),
    )


@register(
    "scd2_user_event_history",
    f"""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev,
             row_number() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), chg AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE rn = 1 OR prev IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type, event_id,
           strftime(ts, '{DUCK_TS_FMT}') AS valid_from,
           strftime(lead(ts) OVER w2, '{DUCK_TS_FMT}') AS valid_to,
           (lead(ts) OVER w2 IS NULL) AS is_current
    FROM chg
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="SCD Type-2 history state (state.scd2_history + merge_scd2): the "
    "keep-history generalization of the reference's last-write-wins upsert "
    "(cache.js:55-57). Runs the INCREMENTAL path — history built at the "
    "checkpoint cutoff, then merge_scd2 over the post-cutoff batch — and the "
    "oracle recomputes the full series, so MATCH proves incremental == "
    "rebuild with closed rows passing through shuffle-free.",
    tags=("ext", "bench2"),
)
def q_scd2_user_event_history(spark: SparkSession, sf: str) -> DataFrame:
    from ..state import merge_scd2, scd2_history

    ev = read_sf_table(spark, sf, "events")
    prefix = ev.filter(F.col("ts") <= F.lit(CUTOFF).cast("timestamp"))
    batch = ev.filter(F.col("ts") > F.lit(CUTOFF).cast("timestamp"))
    history = scd2_history(prefix, "user_id", "event_type", "ts", "event_id")
    merged = merge_scd2(history, batch, "user_id", "event_type", "ts", "event_id")
    return merged.select(
        "user_id",
        "event_type",
        "event_id",
        _ts_str(F.col("valid_from")).alias("valid_from"),
        _ts_str(F.col("valid_to")).alias("valid_to"),
        "is_current",
    )


@register(
    "salted_join_orders",
    """
    -- money sums ride DECIMAL(38,10) partials end-to-end (at sf1 the
    -- outer double sum reaches ~5e11 where ordering drift exceeds the
    -- 2-dec grid), and the single final quantize is floor(x*100 + 0.5)
    -- on the exact decimal: a decimal DOWN-CAST would HALF_UP in Spark
    -- but TRUNCATE in DuckDB, which diverges once o_totalprice > 2^19
    -- (a double's ulp there exceeds the 1e-10 cast grid)
    WITH dim AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
             sum(CAST(o_totalprice AS DECIMAL(38,10))) AS spend
      FROM orders GROUP BY o_custkey
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(d.n_orders) AS BIGINT) AS total_orders,
           CAST(floor(sum(spend) * 100 + 0.5) AS DOUBLE) / 100
             AS total_spend
    FROM events e JOIN dim d ON e.user_id = d.o_custkey
    GROUP BY e.event_type
    """,
    doc="Skew-safe salted equi-join (operators.salted_join): fact side "
    "salted deterministically on event_id, dim replicated x16, join on "
    "(key, salt) — one hot user spreads over 16 reducers. The manual "
    "escape hatch when AQE skew split can't fire. Oracle is the plain "
    "join, so MATCH proves salting preserves join semantics.",
    tags=("ext",),
)
def q_salted_join_orders(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import salted_join

    ev = read_sf_table(spark, sf, "events")
    orders = read_sf_table(spark, sf, "orders")
    dim = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(38,10)")).alias("spend"),
    )
    joined = salted_join(
        ev.withColumnRenamed("user_id", "o_custkey"),
        dim,
        ["o_custkey"],
        salt_buckets=16,
        how="inner",
        salt_on="event_id",
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("n_orders").cast("bigint").alias("total_orders"),
        (
            F.floor(
                F.sum("spend") * 100 + F.lit("0.5").cast("decimal(2,1)")
            ).cast("double")
            / 100
        ).alias("total_spend"),
    )


@register(
    "lm_quality_score",
    """
    WITH bg AS (
      SELECT doc_id,
             substring(text, p, 2) AS bigram,
             substring(text, p, 1) AS prefix
      FROM (SELECT doc_id, text,
                   unnest(range(1, length(text))) AS p
            FROM documents)
    ),
    model AS (SELECT bigram, count(*) AS cab FROM bg GROUP BY bigram),
    pfx AS (SELECT prefix, count(*) AS ca FROM bg GROUP BY prefix),
    vocab AS (SELECT count(DISTINCT substring(bigram, 2, 1)) AS v FROM bg)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(ln((cab + 1.0) / (ca + v))) / count(*), 4) AS avg_logprob
    FROM bg JOIN model USING (bigram) JOIN pfx USING (prefix) CROSS JOIN vocab
    GROUP BY doc_id
    """,
    doc="E4 distributed n-gram LM quality scoring (ext/lm.py): train a "
    "char-bigram add-one-smoothed LM as map-side-combined aggregates "
    "(model is O(charset**2) — broadcastable forever), score every doc "
    "via broadcast joins over its bigram histogram. The engine pattern "
    "behind CCNet-style perplexity filtering, with ln/arith in codegen.",
    tags=("ext",),
)
def q_lm_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.lm import score_documents, train_char_bigram_lm

    docs = read_sf_table(spark, sf, "documents")
    model = train_char_bigram_lm(docs)
    return score_documents(docs, model)


@register(
    "repeated_substring_windows",
    """
    WITH wins AS (
      SELECT doc_id, substring(text, p, 24) AS w
      FROM (SELECT doc_id, text,
                   unnest(range(1, length(text) - 24 + 2, 8)) AS p
            FROM documents
            WHERE length(text) >= 24)
    ),
    stats AS (SELECT w, count(DISTINCT doc_id) AS nd FROM wins GROUP BY w)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / count(*), 4)
             AS dup_frac
    FROM wins JOIN stats USING (w)
    GROUP BY doc_id
    """,
    doc="E1/E2 cross-doc repeated-substring detection "
    "(ext/dedup.repeated_substring_windows): Lee-et-al exact-substring "
    "dedup signal as a stride-24-char shingle-window equi-join (suffix-"
    "array-free). Windows explode in codegen; distinct-doc counts partial-"
    "aggregate map-side; at 100 TB the group key is xxhash64(window).",
    tags=("ext",),
)
def q_repeated_substring_windows(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.dedup import repeated_substring_windows

    docs = read_sf_table(spark, sf, "documents")
    return repeated_substring_windows(docs, k=24, stride=8)


@register(
    "quality_classifier_gate",
    r"""
    -- the pinned linear model in closed form: weight(bucket b) =
    -- (((b*37 + 11) % 64) - 32) / 64.0, bucket = md5-mod-64 of the token
    -- (the repo's portable hash recipe). Same fold order, same doubles.
    WITH scored AS (
      SELECT doc_id,
             list_transform(
               list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                           t -> t <> ''),
               t -> ((((CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT)
                        % 64) * 37 + 11) % 64) - 32) / 64.0
             ) AS ws
      FROM documents
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(CASE WHEN len(ws) > 0
               THEN list_sum(ws) / len(ws) ELSE 0.0 END))), 6)
             AS quality_prob,
           (1.0 / (1.0 + exp(-(CASE WHEN len(ws) > 0
               THEN list_sum(ws) / len(ws) ELSE 0.0 END)))) >= 0.5 AS keep
    FROM scored
    """,
    doc="E4 document-quality classifier gate (ext/classifier.py — the "
    "DCLM/fastText pattern): linear bag-of-tokens model, md5-bucket hash, "
    "sigmoid of the mean bucket weight, threshold keep. Model is a pinned "
    "closed form so the oracle is decidable; the dataflow is the real "
    "thing — weights foldable/broadcast, scoring pure codegen "
    "(split/filter/aggregate higher-order exprs), zero shuffle, no UDF. "
    "Composes into prepare_training_data(classifier_threshold=...).",
    tags=("ext",),
)
def q_quality_classifier_gate(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.classifier import classify_documents

    docs = read_sf_table(spark, sf, "documents")
    return classify_documents(docs, threshold=0.5)


@register(
    "repeated_substring_spans",
    """
    WITH wins AS (
      SELECT doc_id, CAST(p AS BIGINT) AS p, substring(text, CAST(p AS INT), 20) AS w
      FROM (SELECT doc_id, text,
                   unnest(range(1, length(text) - 20 + 2, 4)) AS p
            FROM documents
            WHERE length(text) >= 20)
    ),
    ok AS (
      SELECT w FROM (SELECT w, count(DISTINCT doc_id) AS nd FROM wins GROUP BY w)
      WHERE nd BETWEEN 2 AND 50
    ),
    rep AS (SELECT wins.* FROM wins JOIN ok USING (w)),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.p AS pa, b.p AS pb, a.p - b.p AS diag
      FROM rep a JOIN rep b ON a.w = b.w AND a.doc_id < b.doc_id
    ),
    flagged AS (
      SELECT *, CASE WHEN pa - lag(pa) OVER
                  (PARTITION BY doc_a, doc_b, diag ORDER BY pa) = 4
                THEN 0 ELSE 1 END AS new_chain
      FROM cand
    ),
    chains AS (
      SELECT *, sum(new_chain) OVER
                  (PARTITION BY doc_a, doc_b, diag ORDER BY pa
                   ROWS UNBOUNDED PRECEDING) AS chain_id
      FROM flagged
    )
    SELECT doc_a, doc_b,
           CAST(min(pa) AS BIGINT) AS start_a,
           CAST(min(pb) AS BIGINT) AS start_b,
           CAST(20 + max(pa) - min(pa) AS BIGINT) AS span_len
    FROM chains GROUP BY doc_a, doc_b, diag, chain_id
    """,
    doc="E1/E2 MAXIMAL repeated spans (ext/dedup.repeated_substring_spans): "
    "the Lee-et-al exact-substring semantics — adjacent matching k=20 "
    "windows (stride 4) chain per (doc pair, alignment diagonal) into "
    "maximal (start_a, start_b, span_len) extents via one lag + one "
    "running-sum window. Self-join is a hash equi-join on window text "
    "with a doc-frequency cap (2..50) bounding fan-out; no NLJ anywhere. "
    "Oracle restates the identical chain aggregation.",
    tags=("ext",),
)
def q_repeated_substring_spans(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.dedup import repeated_substring_spans

    docs = read_sf_table(spark, sf, "documents")
    return repeated_substring_spans(docs, k=20, stride=4, max_df=50)


@register(
    "semantic_dedup_pairs",
    """
    -- float k-means forbids pinning the candidate set; the decidable
    -- claims are (a) the exact all-pairs count both engines compute and
    -- (b) the SemDeDup recall floor (measured 0.97 at k=8/p=3; gated 0.8)
    -- plus perfect precision (every emitted pair is exact-cosine-verified).
    SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
           true AS recall_ok,
           true AS precision_ok
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    """,
    doc="E2/E3 SemDeDup (ext/semdedup.py, Abbas et al.): k-means cells + "
    "n_probe=3 multi-assignment, pairwise exact cosine ONLY within shared "
    "cells — O(n^2) becomes k independent shuffle-local compares. Stated "
    "decidably as recall >= 0.8 vs the exact pair set with precision 1. "
    "r11: the gate runs as ONE blocked masked-matmul pass "
    "(ext/semdedup.semantic_pair_gate) — identical output, but neither "
    "side materializes its O(n^2 * density) pair set as rows (22M pairs "
    "each at sf10 previously rode Arrow batches into a full_outer "
    "join; the r10-measured 94x decade factor and the reproduced "
    "kernel OOM both lived there).",
    tags=("ext", "bench2"),
)
def q_semantic_dedup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.semdedup import semantic_pair_gate

    emb = read_sf_table(spark, sf, "embeddings")
    return semantic_pair_gate(
        emb, n_clusters=8, threshold=0.4, n_probe=3
    )


@register(
    "semantic_dedup_incremental",
    """
    -- incremental SemDeDup vs persisted state (centroids + per-cell
    -- member rows): batch docs (vec_id >= 250) drop when cosine >= 0.4
    -- with a state doc or a smaller-id batch sibling. Float k-means
    -- forbids pinning the candidate set, so the decidable claims are
    -- the exact drop-set size both engines compute, the recall floor
    -- (measured 0.90 at sf0.01 with k=8/p=3; gated 0.8), perfect
    -- precision (every drop is exact-cosine-verified), and the state
    -- accounting (delta rows == kept docs).
    WITH pairs AS (
      SELECT b.vec_id AS ib
      FROM embeddings a JOIN embeddings b
        ON a.vec_id < b.vec_id AND b.vec_id >= 250
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= 0.4
    )
    SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id >= 250)
                AS BIGINT) AS n_batch,
           CAST((SELECT count(DISTINCT ib) FROM pairs) AS BIGINT)
             AS n_exact_dropped,
           true AS recall_ok,
           true AS precision_ok,
           true AS state_delta_ok
    FROM (SELECT 1)
    """,
    doc="E2/E3 incremental SemDeDup (VERDICT r9 item 6; "
    "ext/semdedup.materialize_semantic_state / "
    "semantic_dedup_incremental): the persisted state is trained "
    "centroids + one (cell, id, vector) row per kept doc — the "
    "minhash_dedup_incremental pattern. A new batch assigns MAP-SIDE "
    "against broadcast centroids (n_probe=3 boundary recovery), the "
    "state side is semi-join-pruned to touched cells, and each cell "
    "runs ONE |new| x |cell| BLAS gram (state-state pairs never "
    "recompute). Returns kept + an O(batch) state delta for "
    "append-style persistence.",
    tags=("ext",),
)
def q_semantic_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.semdedup import (
        materialize_semantic_state,
        semantic_dedup_incremental,
    )
    from ..ext.similarity import exact_cosine_pairs

    emb = read_sf_table(spark, sf, "embeddings")
    corpus = emb.filter(F.col("vec_id") < 250)
    batch = emb.filter(F.col("vec_id") >= 250)
    cents, cells = materialize_semantic_state(corpus, n_clusters=8)
    kept, delta = semantic_dedup_incremental(
        batch, cents, cells, threshold=0.4, n_probe=3
    )
    sem = (
        batch.select("vec_id")
        .join(kept.select("vec_id"), "vec_id", "left_anti")
        .select("vec_id", F.lit(1).alias("__s"))
    )
    exact = (
        exact_cosine_pairs(emb, 0.4)
        .filter(F.col("id_b") >= 250)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .select("vec_id", F.lit(1).alias("__e"))
    )
    j = exact.join(sem, "vec_id", "full_outer")
    gates = j.agg(
        F.count("__e").cast("bigint").alias("n_exact_dropped"),
        # vacuously true when NO exact pair lands in the batch window
        # (tiny SFs): the division would yield NULL, not a boolean,
        # and the oracle states literal true
        F.coalesce(
            F.count(F.when(F.col("__e").isNotNull() & F.col("__s").isNotNull(), 1))
            / F.count("__e")
            >= 0.8,
            F.lit(True),
        ).alias("recall_ok"),
        (F.count(F.when(F.col("__e").isNull(), 1)) == 0).alias(
            "precision_ok"
        ),
    )
    counts = batch.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batch")
    ).crossJoin(
        kept.agg(F.count(F.lit(1)).alias("__nk")).crossJoin(
            delta.agg(F.count(F.lit(1)).alias("__nd"))
        )
    )
    return counts.crossJoin(gates).select(
        "n_batch",
        "n_exact_dropped",
        "recall_ok",
        "precision_ok",
        (F.col("__nk") == F.col("__nd")).alias("state_delta_ok"),
    )


@register(
    "dedup_exact_incremental",
    """
    WITH state AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 250
    ),
    batch AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id >= 250
    ),
    winners AS (
      SELECT fp, CAST(min(doc_id) AS BIGINT) AS doc_id
      FROM batch GROUP BY fp
    )
    SELECT w.doc_id FROM winners w
    WHERE w.fp NOT IN (SELECT fp FROM state)
    """,
    doc="E1 incremental exact dedup (ext/dedup.exact_dedup_incremental): "
    "dedup a new batch against the accumulated corpus via a fingerprint "
    "STATE table (the corpus-scale analogue of cache.js:69-85 change "
    "suppression). Batch shuffles as (fp,id) only; state anti-join is "
    "fp-keyed and bucket-able; bodies move once.",
    tags=("ext",),
)
def q_dedup_exact_incremental(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.dedup import exact_dedup_incremental, fingerprint

    docs = read_sf_table(spark, sf, "documents")
    state = (
        docs.filter(F.col("doc_id") < 250)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") >= 250)
    kept, _next = exact_dedup_incremental(state, batch)
    return kept.select("doc_id")


@register(
    "grouped_split_by_source",
    """
    WITH assigned AS (
      SELECT source,
             CASE
               WHEN CAST(('0x' || substring(md5(source), 1, 8))::UBIGINT
                         AS DOUBLE) / 4294967296.0 < 0.15 THEN 'test'
               WHEN CAST(('0x' || substring(md5(source), 1, 8))::UBIGINT
                         AS DOUBLE) / 4294967296.0 < 0.35 THEN 'val'
               ELSE 'train'
             END AS split
      FROM documents
    )
    SELECT source, split, CAST(count(*) AS BIGINT) AS n
    FROM assigned GROUP BY source, split
    """,
    doc="Leakage-safe grouped split (ext/sampling.grouped_split): the "
    "split hashes the GROUP key (source), so all documents of a source "
    "land in one split and val/test can't see a train-set sibling. "
    "Map-only; oracle recomputes the identical md5 assignment, and "
    "one-row-per-source proves no group straddles splits.",
    tags=("ext",),
)
def q_grouped_split_by_source(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.sampling import grouped_split

    docs = read_sf_table(spark, sf, "documents")
    return (
        grouped_split(docs, "source", val_fraction=0.2, test_fraction=0.15)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "winsorize_event_values",
    """
    WITH stats AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           round(min(stats.lo), 6) AS p05,
           round(min(stats.hi), 6) AS p95,
           round(avg(least(greatest(e.value, stats.lo), stats.hi)), 6)
             AS avg_winsorized,
           CAST(sum(CASE WHEN e.value < stats.lo OR e.value > stats.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM events e JOIN stats USING (event_type)
    GROUP BY e.event_type
    """,
    doc="Per-group quantile clipping (operators.winsorize): exact group "
    "percentiles (map-side partial agg), broadcast back, clamp in codegen. "
    "The outlier guard before training statistics; percentile_approx is "
    "the same-shape 100 TB swap-in.",
    tags=("ext",),
)
def q_winsorize_event_values(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import winsorize

    ev = read_sf_table(spark, sf, "events")
    w = winsorize(ev, "value", ["event_type"], lower=0.05, upper=0.95)
    stats = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("__lo"),
        F.expr("percentile(value, 0.95)").alias("__hi"),
    )
    return (
        w.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("__lo"), 6).alias("p05"),
            F.round(F.min("__hi"), 6).alias("p95"),
            F.round(F.avg("value_w"), 6).alias("avg_winsorized"),
            F.sum(
                ((F.col("value") < F.col("__lo")) | (F.col("value") > F.col("__hi")))
                .cast("long")
            )
            .cast("bigint")
            .alias("n_clamped"),
        )
    )


@register(
    "standardize_embeddings",
    """
    WITH e AS (
      SELECT vec_id,
             unnest(CAST(embedding AS DOUBLE[])) AS x,
             unnest(range(0, len(embedding))) AS d
      FROM embeddings
    ),
    stats AS (
      SELECT d, avg(x) AS mu, stddev_pop(x) AS sigma FROM e GROUP BY d
    )
    SELECT e.vec_id,
           CAST(count(*) AS BIGINT) AS n_dims,
           round(sqrt(sum(pow((e.x - stats.mu)
                              / coalesce(nullif(stats.sigma, 0.0), 1.0), 2))), 4)
             AS z_norm
    FROM e JOIN stats USING (d)
    GROUP BY e.vec_id
    """,
    doc="E3 dim-wise embedding standardization (ext/features.standardize): "
    "one posexplode aggregation for O(dim) stats, then a map-only "
    "higher-order transform against the broadcast struct array re-writes "
    "every vector in place. Output pins the standardized vector's norm.",
    tags=("ext",),
)
def q_standardize_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.features import standardize

    emb = read_sf_table(spark, sf, "embeddings")
    std = standardize(emb)
    return std.select(
        "vec_id",
        F.size("embedding_std").cast("bigint").alias("n_dims"),
        F.round(
            F.sqrt(
                F.aggregate(
                    "embedding_std", F.lit(0.0), lambda acc, x: acc + x * x
                )
            ),
            4,
        ).alias("z_norm"),
    )


@register(
    "clean_text_normalize",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(
                 regexp_replace(text,
                   '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', ' ', 'g'),
                 '[ \\t\\n\\r]+', ' ', 'g'))) AS clean_fp,
           CAST(length(trim(regexp_replace(
                 regexp_replace(text,
                   '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', ' ', 'g'),
                 '[ \\t\\n\\r]+', ' ', 'g'))) AS BIGINT) AS clean_len
    FROM documents
    """,
    doc="E4 text cleanup (ext/text.clean_text): strip control chars, "
    "collapse whitespace runs, trim — map-only codegen regexps with "
    "engine-portable character classes; md5 of the cleaned text pins "
    "byte-exactness against the oracle.",
    tags=("ext",),
)
def q_clean_text_normalize(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.text import clean_text

    docs = read_sf_table(spark, sf, "documents")
    clean = clean_text("text")
    return docs.select(
        "doc_id",
        F.md5(clean).alias("clean_fp"),
        F.length(clean).cast("bigint").alias("clean_len"),
    )


def _duck_clean_text(col: str = "text") -> str:
    """DuckDB twin of ext.text.clean_text."""
    ctrl = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
    return (
        f"trim(regexp_replace(regexp_replace({col}, '{ctrl}', ' ', 'g'), "
        "'[ \\t\\n\\r]+', ' ', 'g'))"
    )


@register(
    "training_data_prep",
    f"""
    WITH cleaned AS (
      SELECT doc_id, source, {_duck_clean_text()} AS text
      FROM documents
    ),
    feats AS (
      SELECT doc_id, source, text,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             ({" + ".join(_duck_count_occ(w) for w in
                          ("the", "a", "of", "and", "to", "in", "is", "it"))})
               AS n_stop
      FROM cleaned
    ),
    gated AS (
      SELECT * FROM feats
      WHERE n_tokens >= 20
        AND round(least(n_tokens / 200.0, 1.0) * 0.5
                  + least(n_stop / n_tokens * 4.0, 1.0) * 0.5, 4) >= 0.15
    ),
    winners AS (
      SELECT md5(text) AS fp, min(doc_id) AS doc_id FROM gated GROUP BY fp
    ),
    deduped AS (
      SELECT g.* FROM gated g JOIN winners w ON g.doc_id = w.doc_id
    ),
    assigned AS (
      SELECT source, n_tokens,
             CASE
               WHEN CAST(('0x' || substring(md5(source), 1, 8))::UBIGINT
                         AS DOUBLE) / 4294967296.0 < 0.1 THEN 'test'
               WHEN CAST(('0x' || substring(md5(source), 1, 8))::UBIGINT
                         AS DOUBLE) / 4294967296.0 < 0.2 THEN 'val'
               ELSE 'train'
             END AS split
      FROM deduped
    )
    SELECT split, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY split, source
    """,
    doc="End-to-end training-data prep (ext/prep.prepare_training_data): "
    "clean -> quality gate -> exact dedup -> leakage-safe grouped split, "
    "composed lazily so Catalyst fuses clean+featurize+gate into one map "
    "stage with a single (fp,id) dedup shuffle. The oracle chains the "
    "stage oracles, pinning the whole pipeline end to end.",
    tags=("ext", "bench2"),
)
def q_training_data_prep(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.prep import prepare_training_data

    docs = read_sf_table(spark, sf, "documents")
    out = prepare_training_data(docs)
    return out.groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


@register(
    "streaming_neardup_prep",
    f"""
    -- Structured-Streaming near-dup prep, restated relationally: the
    -- corpus splits into 3 contiguous-id micro-batches; a doc is kept
    -- iff it is not a >=0.5-Jaccard near-dup of (a) any SMALLER-ID doc
    -- in its own batch or (b) any KEPT doc of an earlier batch — the
    -- exact greedy policy exact_neardup_dedup_incremental implements
    -- with persistent shingle-index state (EXACT pair recall by
    -- construction, so this equality holds at any SF — r6; the LSH
    -- signature state is the method='minhash' alternative, recall-gated
    -- by minhash_near_dups). The 3-batch recursion unrolls into chained
    -- CTEs k0/k1/k2. MATERIALIZED hints keep the oracle itself
    -- scale-bounded: without them DuckDB re-inlines the shingle
    -- self-join into every consumer and the sf1 run exhausted 4 GB of
    -- temp (r5 close); materialized once, the pair set is tiny and the
    -- chained keeps are cheap semi-joins.
    WITH cleaned AS (
      SELECT doc_id, source, {_duck_clean_text()} AS text
      FROM documents
    ),
    feats AS (
      SELECT doc_id, source, text,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             ({" + ".join(_duck_count_occ(w) for w in
                          ("the", "a", "of", "and", "to", "in", "is", "it"))})
               AS n_stop
      FROM cleaned
    ),
    gated AS MATERIALIZED (
      SELECT * FROM feats
      WHERE n_tokens >= 20
        AND round(least(n_tokens / 200.0, 1.0) * 0.5
                  + least(n_stop / n_tokens * 4.0, 1.0) * 0.5, 4) >= 0.15
    ),
    batched AS MATERIALIZED (
      SELECT doc_id, source, text, n_tokens,
             least(2, CAST(floor(doc_id * 3.0 /
                   (SELECT count(*) FROM documents)) AS INT)) AS b
      FROM gated
    ),
    toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
      FROM batched
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM toks, UNNEST(range(1, greatest(len(w) - 2, 0) + 1)) AS t(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2) i
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    ),
    k0 AS MATERIALIZED (
      SELECT d.doc_id FROM batched d WHERE d.b = 0 AND NOT EXISTS (
        SELECT 1 FROM pairs p JOIN batched a ON a.doc_id = p.doc_a
        WHERE p.doc_b = d.doc_id AND a.b = 0)
    ),
    k1 AS MATERIALIZED (
      SELECT d.doc_id FROM batched d WHERE d.b = 1 AND NOT EXISTS (
        SELECT 1 FROM pairs p JOIN batched a ON a.doc_id = p.doc_a
        WHERE p.doc_b = d.doc_id
          AND (a.b = 1 OR a.doc_id IN (SELECT doc_id FROM k0)))
    ),
    k2 AS (
      SELECT d.doc_id FROM batched d WHERE d.b = 2 AND NOT EXISTS (
        SELECT 1 FROM pairs p JOIN batched a ON a.doc_id = p.doc_a
        WHERE p.doc_b = d.doc_id
          AND (a.b = 2 OR a.doc_id IN (SELECT doc_id FROM k0)
               OR a.doc_id IN (SELECT doc_id FROM k1)))
    ),
    kept AS (
      SELECT doc_id FROM k0 UNION ALL SELECT doc_id FROM k1
      UNION ALL SELECT doc_id FROM k2
    )
    SELECT d.doc_id, CAST(d.n_tokens AS BIGINT) AS n_tokens,
           CASE
             WHEN CAST(('0x' || substring(md5(d.source), 1, 8))::UBIGINT
                       AS DOUBLE) / 4294967296.0 < 0.1 THEN 'test'
             WHEN CAST(('0x' || substring(md5(d.source), 1, 8))::UBIGINT
                       AS DOUBLE) / 4294967296.0 < 0.2 THEN 'val'
             ELSE 'train'
           END AS split
    FROM batched d JOIN kept k ON k.doc_id = d.doc_id
    """,
    doc="Continuous near-dup training-data ingest, end to end "
    "(ext/prep.run_streaming_neardup_prep, exact shingle state): the corpus "
    "arrives as 3 file-source micro-batches; each batch cleans, "
    "quality-gates, and near-dup-dedups against the PERSISTENT shingle "
    "inverted-index state (cross-batch — a paraphrased re-send of any "
    "earlier survivor is dropped; exact pair recall at any SF, r6), then "
    "appends split-partitioned survivors. The oracle unrolls the "
    "per-batch greedy policy into chained SQL CTEs over the exact "
    "Jaccard pair set, pinning the stateful streaming semantics "
    "relationally — not just a rows-only check. Scale: per batch the "
    "shingle fold is map-side, the candidate join's right side is the "
    "batch, document bodies are never re-read (the corpus contributes a "
    "columnar (doc, sh) state scan); state grows by survivors' shingles.",
    tags=("ext", "bench2"),
)
def q_streaming_neardup_prep(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import time

    from ..ext.prep import run_streaming_neardup_prep

    docs = read_sf_table(spark, sf, "documents")
    n_docs = docs.count()
    base = tempfile.mkdtemp(prefix="stream_neardup_")
    # the returned DataFrame lazily reads out_dir, so the workdir can't
    # be deleted here — reclaim it at interpreter exit instead of
    # leaking a corpus copy per invocation (parity sweeps, bench runs)
    import atexit

    atexit.register(shutil.rmtree, base, True)
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    bcol = F.least(
        F.lit(2), F.floor(F.col("doc_id") * 3.0 / n_docs)
    ).cast("int")
    staged = docs.withColumn("__b", bcol)
    # one file per micro-batch, replayed in id order — the keep-min-id
    # ordering contract of minhash_dedup_incremental
    _stage_bucketed_batches(base, in_dir, staged, 3)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out_dir = os.path.join(base, "out")
    run_streaming_neardup_prep(
        spark,
        stream,
        out_dir,
        os.path.join(base, "state"),
        os.path.join(base, "ckpt"),
        # availableNow terminates on drain; the margin only matters when
        # a loaded box slows batches (a tight cap truncates the drain
        # and reads as a parity mismatch)
        timeout_sec=600.0,
    )
    return spark.read.parquet(out_dir).select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"), "split"
    )


@register(
    "streaming_state_pipeline",
    """
    -- pipeline.run_streaming (the whole reference program as ONE
    -- Structured Streaming job) restated relationally: events arrive as
    -- 3 contiguous-event_id micro-batches of (user_id, ts, event_type)
    -- entities; per batch the engine keeps the latest row per user
    -- (O15), emits users whose content CHANGED vs the persisted
    -- content-hash state (O5 — hash ignores ts), sinks the projected
    -- batch bodies (O6-O11), then MERGEs all seen users back into state
    -- with refreshed TTL (O12/O13). Content = (user_id, event_type), so
    -- state's stored copy for user u before batch b is u's latest type
    -- in the most recent EARLIER batch containing u — exactly
    -- lag(event_type) over the user's batch sequence; a user emits when
    -- that lag is absent (first sight) or differs (real change).
    WITH ev AS (
      SELECT event_id, user_id, ts, event_type,
             least(2, CAST(floor(event_id * 3.0 /
                   (SELECT count(*) FROM events)) AS INT)) AS b
      FROM events
    ),
    -- (b, user, ts) collapsed to max-event_id BEFORE keep-latest: the
    -- engine's keep_latest_per_key breaks equal-ts ties by its content
    -- hash, which this oracle does not restate, so the staged stream is
    -- de-tied upstream (same dedup both sides)
    ded AS (
      SELECT b, user_id, ts, event_type FROM (
        SELECT *, row_number() OVER (PARTITION BY b, user_id, ts
                                     ORDER BY event_id DESC) AS dr
        FROM ev)
      WHERE dr = 1
    ),
    latest AS (
      SELECT b, user_id, event_type FROM (
        SELECT *, row_number() OVER (PARTITION BY b, user_id
                                     ORDER BY ts DESC) AS rn
        FROM ded)
      WHERE rn = 1
    ),
    seq AS (
      SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY b)
               AS prev_type
      FROM latest
    )
    SELECT CAST(b AS INT) AS b, user_id AS id, event_type AS type
    FROM seq
    WHERE prev_type IS NULL OR prev_type <> event_type
    """,
    doc="O12/O13 state pipeline end-to-end under Structured Streaming "
    "(pipeline.run_streaming): 3 file-source micro-batches drive "
    "keep-latest -> changed-rows vs persisted content-hash state -> "
    "projection/batch-body sink -> MERGE upsert with TTL refresh; the "
    "emitted bodies are read back and the oracle unrolls the stateful "
    "per-batch transition with a lag over each user's batch sequence — "
    "pinning the cross-batch suppression semantics relationally (the "
    "streaming twin of pipeline_incremental_run, and the second "
    "oracle-paired streaming e2e after streaming_neardup_prep).",
    tags=("reference", "bench2"),
)
def q_streaming_state_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile
    import time

    from ..model import EngineConfig, TableSpec
    from ..pipeline import run_streaming

    events = read_sf_table(spark, sf, "events")
    n_events = events.count()
    base = tempfile.mkdtemp(prefix="stream_state_")
    # the returned DataFrame lazily reads emit_dir — reclaim at exit
    atexit.register(shutil.rmtree, base, True)
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    from pyspark.sql import Window as W

    entity = events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.least(F.lit(2), F.floor(F.col("event_id") * 3.0 / n_events))
        .cast("int")
        .alias("__b"),
    )
    # de-tie (batch, user, ts) on max event_id before staging: the
    # engine's keep-latest breaks equal-ts ties by content hash, which the
    # oracle does not restate, and both this staging and the oracle apply
    # the identical collapse
    dw = W.partitionBy("__b", "user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    entity = (
        entity.withColumn("__dr", F.row_number().over(dw))
        .filter(F.col("__dr") == 1)
        .drop("__dr", "event_id")
    )
    # one file per micro-batch, replayed in event-time order
    _stage_bucketed_batches(base, in_dir, entity, 3)
    stream = (
        spark.readStream.schema(entity.drop("__b").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    emit_dir = os.path.join(base, "emit")

    def sink(bodies: DataFrame, batch_id: int) -> None:
        # labeled with the STREAM's batch id (2-arg sink contract) — a
        # caller-side counter would desynchronize if an empty micro-batch
        # ever skipped the sink
        bodies.withColumn("b", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(emit_dir)

    run_streaming(
        spark,
        TableSpec(name="entities", id_field="user_id", ts_field="ts"),
        stream,
        [
            {"target": "id", "source": "user_id"},
            {"target": "type", "source": "event_type"},
        ],
        EngineConfig(state_dir=os.path.join(base, "state")),
        sink,
        os.path.join(base, "ckpt"),
        timeout_sec=600.0,  # drain margin under load (availableNow exits early)
        now_epoch_ms=1_700_000_000_000,
    )
    item = "array<struct<id:bigint,type:string>>"
    return (
        spark.read.parquet(emit_dir)
        .select("b", F.explode(F.from_json("body", item)).alias("e"))
        .select(
            F.col("b").cast("int").alias("b"),
            F.col("e.id").alias("id"),
            F.col("e.type").alias("type"),
        )
    )


@register(
    "streaming_ttl_expiry",
    """
    -- run_streaming with an ADVANCING per-batch clock (now_fn): 5
    -- micro-batches, one simulated hour apart, TTL 1.5 h. A state entry
    -- written at batch b' is purged by the merge at the first batch m
    -- with (m - b') > 1.5 — so at batch b the loaded state (saved after
    -- batch b-1's merge) holds only users last seen at b-1 or b-2. The
    -- emit rule the engine must reproduce: a user emits when first
    -- seen, when its content changed, OR when its last sighting is >= 3
    -- batches back (suppression state EXPIRED — same content re-emits).
    -- Presence follows the deterministic (user*7 + b*3) % 10 < 4
    -- pattern so per-user gap lengths of 1..4 all occur in the data.
    WITH ev AS (
      SELECT event_id, user_id, ts, event_type,
             least(4, CAST(floor(event_id * 5.0 /
                   (SELECT count(*) FROM events)) AS INT)) AS b
      FROM events
    ),
    flt AS (
      SELECT * FROM ev WHERE (user_id * 7 + b * 3) % 10 < 4
    ),
    -- de-tie (b, user, ts) on max event_id (same collapse as staging)
    ded AS (
      SELECT b, user_id, ts, event_type FROM (
        SELECT *, row_number() OVER (PARTITION BY b, user_id, ts
                                     ORDER BY event_id DESC) AS dr
        FROM flt)
      WHERE dr = 1
    ),
    latest AS (
      SELECT b, user_id, event_type FROM (
        SELECT *, row_number() OVER (PARTITION BY b, user_id
                                     ORDER BY ts DESC) AS rn
        FROM ded)
      WHERE rn = 1
    ),
    seq AS (
      SELECT *,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY b)
               AS prev_type,
             lag(b) OVER (PARTITION BY user_id ORDER BY b) AS prev_b
      FROM latest
    )
    SELECT CAST(b AS INT) AS b, user_id AS id, event_type AS type
    FROM seq
    WHERE prev_b IS NULL OR b - prev_b >= 3 OR event_type <> prev_type
    """,
    doc="O13 TTL EXPIRY under Structured Streaming, deterministically: "
    "run_streaming(now_fn=) advances the merge clock one simulated hour "
    "per micro-batch against a 1.5 h TTL, so suppression state for a "
    "user absent >= 3 batches is purged and an unchanged re-send emits "
    "again — the cross-batch twin of the batch-mode ttl_expiry query. "
    "The oracle derives the purge horizon relationally from each "
    "user's batch-sighting lag. Sibling of streaming_state_pipeline "
    "(which pins the no-expiry upsert semantics with a fixed clock).",
    tags=("reference",),
)
def q_streaming_ttl_expiry(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile
    import time

    from ..model import EngineConfig, TableSpec
    from ..pipeline import run_streaming

    events = read_sf_table(spark, sf, "events")
    n_events = events.count()
    base = tempfile.mkdtemp(prefix="stream_ttl_")
    atexit.register(shutil.rmtree, base, True)
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    n_batches = 5
    bcol = (
        F.least(
            F.lit(n_batches - 1),
            F.floor(F.col("event_id") * float(n_batches) / n_events),
        )
        .cast("int")
        .alias("__b")
    )
    from pyspark.sql import Window as W

    entity = (
        events.select("user_id", "ts", "event_type", "event_id")
        .withColumn("__b", bcol)
        # deterministic sparse presence: users drop in and out so gap
        # lengths 1..4 (suppression vs expiry regimes) all occur
        .filter((F.col("user_id") * 7 + F.col("__b") * 3) % 10 < 4)
    )
    # de-tie (batch, user, ts) on max event_id before staging (the
    # engine's keep-latest is tie-arbitrary on equal ts; oracle mirrors)
    dw = W.partitionBy("__b", "user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    entity = (
        entity.withColumn("__dr", F.row_number().over(dw))
        .filter(F.col("__dr") == 1)
        .drop("__dr", "event_id")
    )
    _stage_bucketed_batches(base, in_dir, entity, n_batches)
    stream = (
        spark.readStream.schema(entity.drop("__b").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    emit_dir = os.path.join(base, "emit")

    def sink(bodies: DataFrame, batch_id: int) -> None:
        # labeled with the STREAM's batch id (2-arg sink contract) — a
        # caller-side counter would desynchronize if an empty micro-batch
        # ever skipped the sink
        bodies.withColumn("b", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(emit_dir)

    hour_ms = 3_600_000
    run_streaming(
        spark,
        TableSpec(name="entities", id_field="user_id", ts_field="ts"),
        stream,
        [
            {"target": "id", "source": "user_id"},
            {"target": "type", "source": "event_type"},
        ],
        EngineConfig(state_dir=os.path.join(base, "state"),
                     state_ttl_hours=1.5),
        sink,
        os.path.join(base, "ckpt"),
        timeout_sec=600.0,  # drain margin under load (availableNow exits early)
        now_fn=lambda b: 1_700_000_000_000 + b * hour_ms,
    )
    item = "array<struct<id:bigint,type:string>>"
    return (
        spark.read.parquet(emit_dir)
        .select("b", F.explode(F.from_json("body", item)).alias("e"))
        .select(
            F.col("b").cast("int").alias("b"),
            F.col("e.id").alias("id"),
            F.col("e.type").alias("type"),
        )
    )


def _stage_ts_ordered_batches(
    spark: SparkSession,
    df: DataFrame,
    base: str,
    n_batches: int,
    extra_files: list[tuple[str, DataFrame]] | None = None,
):
    """Write ``df`` as ``n_batches`` event-time-CONTIGUOUS parquet files
    with ascending mtimes (one file = one micro-batch under
    ``maxFilesPerTrigger=1``), returning (in_dir, schema).

    Harness-only arrival simulation: batch k holds the k-th tercile of
    the [min ts, max ts] span, so a later batch never carries an earlier
    event time — files replay the way a real time-ordered feed arrives,
    and a watermark delay exceeding zero drops nothing. The min/max
    comes from one aggregate (no global sort; the real deployment reads
    an already-arriving stream and stages nothing). ``extra_files``
    appends sentinel batches after the real ones (e.g. a far-future
    watermark flush for outer-join null completion)."""
    import os
    import shutil
    import time

    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    # ts may be TIMESTAMP_NTZ (the testdata's type), which Spark 4 refuses
    # to cast straight to double; route through timestamp_ltz — any
    # monotonic numeric image of ts works for tercile bucketing.
    ts_num = F.col("ts").cast("timestamp_ltz").cast("double")
    mn, mx = df.agg(F.min(ts_num), F.max(ts_num)).first()
    span = (mx - mn) + 1e-6
    staged = df.withColumn(
        "__b",
        F.least(
            F.lit(n_batches - 1),
            F.floor((ts_num - mn) * n_batches / span),
        ).cast("int"),
    )
    # main buckets stage in ONE job (see _stage_bucketed_batches);
    # sentinel extra_files (tiny 1-row flush frames) stay per-file
    _stage_bucketed_batches(base, in_dir, staged, n_batches)
    extras = list(extra_files or [])
    for i, (fname, part_df) in enumerate(extras):
        stage_dir = os.path.join(base, f"stage_{fname}")
        part_df.coalesce(1).write.parquet(stage_dir)
        src = next(
            f for f in os.listdir(stage_dir) if f.endswith(".parquet")
        )
        dst = os.path.join(in_dir, fname)
        shutil.move(os.path.join(stage_dir, src), dst)
        # mtimes strictly AFTER every main bucket (those end at
        # time.time() - 100) for ANY number of sentinels: spread them
        # evenly through the (-100, 0) window, ascending
        os.utime(
            dst,
            (time.time() - 100.0 * (len(extras) - i) / (len(extras) + 1),)
            * 2,
        )
    return in_dir, df.schema


def _stage_bucketed_batches(
    base: str, in_dir: str, staged: DataFrame, n_batches: int
) -> None:
    """Write a df carrying an int ``__b`` bucket column as one parquet
    file per bucket into ``in_dir``, with ascending mtimes so the file
    source (``maxFilesPerTrigger=1``) replays buckets in order. The
    shared mechanics of every micro-batch staging harness; callers own
    the bucketing rule (doc-id terciles, event-id terciles, ...).

    ONE job stages every bucket (r11): ``repartition(n, __b)`` +
    ``partitionBy(__b)`` — each bucket value lands in exactly one task,
    so each ``__b=<b>`` dir holds exactly one data file. The previous
    per-bucket loop re-ran the whole staging frame (often carrying a
    window de-tie) once per bucket — n_batches full scans where one
    suffices. Every consumer's state fold is row-order-insensitive
    (counts, bit-ORs, decimal sums, keep-min-id / de-tied keep-latest),
    so the shuffle's row-order change is invisible in every output."""
    import os
    import shutil
    import time

    stage_dir = os.path.join(base, "stage_all")
    (
        staged.repartition(n_batches, "__b")
        .write.partitionBy("__b")
        .parquet(stage_dir)
    )
    for b in range(n_batches):
        bdir = os.path.join(stage_dir, f"__b={b}")
        dst = os.path.join(in_dir, f"b{b}.parquet")
        if os.path.isdir(bdir):
            parts = [
                f for f in os.listdir(bdir) if f.endswith(".parquet")
            ]
            # one task per bucket value is what repartition(n, __b)
            # guarantees TODAY; a session conf (maxRecordsPerFile) or a
            # retried task could split a bucket across several data
            # files, and moving only the first would silently truncate
            # the staged micro-batch — fail loudly instead
            if len(parts) != 1:
                raise RuntimeError(
                    f"staging bucket {bdir} holds {len(parts)} data "
                    "files (expected exactly 1); refusing to stage a "
                    "partial micro-batch"
                )
            shutil.move(os.path.join(bdir, parts[0]), dst)
        else:
            # an empty bucket writes no partition dir; the stream still
            # needs its placeholder file so batch ids stay aligned
            edir = os.path.join(base, f"stage_empty{b}")
            staged.limit(0).drop("__b").coalesce(1).write.parquet(edir)
            src = next(
                f for f in os.listdir(edir) if f.endswith(".parquet")
            )
            shutil.move(os.path.join(edir, src), dst)
        os.utime(dst, (time.time() - (n_batches - b) * 100,) * 2)


@register(
    "streaming_stream_join",
    """
    -- Stream-stream INNER interval join (purchase attribution): each
    -- purchase joined to every view by the same user within the 30
    -- minutes before it. Inner-join emission under append mode is
    -- micro-batch-invariant (a match emits in the batch that completes
    -- it), and the staged batches are event-time-contiguous with a 2 h
    -- watermark, so state eviction can never race a qualifying match:
    -- a view is evicted only once the watermark passes view_ts + 30
    -- min, and every event in later batches is >= 2 h past that
    -- watermark. The streamed result therefore equals this plain join.
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id AS user_id, v.ts AS view_ts, p.ts AS purchase_ts
    FROM events v JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    doc="Stream-stream inner join with watermarks on BOTH sides and a "
    "time-interval condition (SURVEY 2.2 streaming row), end-to-end "
    "under Structured Streaming: view/purchase events arrive as 3 "
    "event-time-ordered file micro-batches; one file source is consumed "
    "by both join legs; join state is watermark-bounded exactly the way "
    "a 100 TB deployment would bound it (state per key ~ events in the "
    "last 2.5 h, independent of total history). Oracle = the equivalent "
    "batch interval join.",
    tags=("streaming",),
)
def q_streaming_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..streaming import run_available_now

    events = read_sf_table(spark, sf, "events")
    # Watermarks demand TIMESTAMP (ltz); the testdata's ts is NTZ. Cast
    # on the way in, cast back at the output so values hash-match the
    # oracle's naive timestamps (ntz->ltz->ntz is identity at fixed
    # session tz).
    sides = events.filter(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    base = tempfile.mkdtemp(prefix="stream_join_")
    atexit.register(shutil.rmtree, base, True)
    in_dir, schema = _stage_ts_ordered_batches(spark, sides, base, 3)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "inner",
    ).select("view_id", "purchase_id", "user_id", "view_ts", "purchase_ts")
    emit_dir = os.path.join(base, "emit")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(emit_dir)

    run_available_now(
        joined, os.path.join(base, "ckpt"), sink, timeout_sec=600.0
    )
    out_schema = (
        "view_id bigint, purchase_id bigint, user_id bigint, "
        "view_ts timestamp, purchase_ts timestamp"
    )
    return spark.read.schema(out_schema).parquet(emit_dir).select(
        "view_id",
        "purchase_id",
        "user_id",
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )


@register(
    "streaming_stream_join_outer",
    """
    -- Stream-stream LEFT OUTER interval join: every view, with its
    -- attributed purchase(s) within the following 30 minutes, or NULLs
    -- if none. Under append mode the NULL completion for an unmatched
    -- view emits only once the global watermark passes view_ts + 30
    -- min; the staged feed appends two far-future sentinel batches
    -- (one view-typed + one purchase-typed, so BOTH legs' watermarks
    -- advance past every real window under the min policy) to flush
    -- the tail, then the sentinels are filtered out of the result.
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id AS user_id, v.ts AS view_ts, p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = v.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    doc="Stream-stream LEFT OUTER join with watermarks on both sides "
    "(SURVEY 2.2 streaming row, outer-emission semantics): matched rows "
    "emit in the completing batch exactly like the inner join; "
    "unmatched views emit with NULLs only after state eviction, which "
    "the harness forces deterministically with far-future sentinel "
    "batches on BOTH legs (multipleWatermarkPolicy=min takes the "
    "minimum across inputs). At 100 TB the same plan holds: outer-join "
    "state is bounded by the watermark horizon, and the sentinel trick "
    "is exactly a production heartbeat topic. Oracle = the equivalent "
    "batch left interval join.",
    tags=("streaming",),
)
def q_streaming_stream_join_outer(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..streaming import run_available_now

    events = read_sf_table(spark, sf, "events")
    sides = events.filter(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    base = tempfile.mkdtemp(prefix="stream_join_outer_")
    atexit.register(shutil.rmtree, base, True)

    # Two sentinel batches: the first advances both legs' watermarks
    # past every real view's 30-min window; the second triggers one
    # more micro-batch so the null completions evicted under the new
    # watermark actually emit (no reliance on a trailing no-data
    # batch). Distinct users and 100-day separation keep the sentinels
    # from joining each other; negative ids filter them out below.
    def sentinel(day_offset: int, eid: int, uid: int, etype: str):
        return events.agg(
            F.lit(eid).cast("long").alias("event_id"),
            F.lit(uid).cast("long").alias("user_id"),
            (
                F.max(F.col("ts").cast("timestamp"))
                + F.expr(f"INTERVAL {day_offset} DAYS")
            ).alias("ts"),
            F.lit(etype).alias("event_type"),
        )

    extra = [
        (
            "sentinel_a.parquet",
            sentinel(100, -1, -1, "view").unionByName(
                sentinel(100, -2, -2, "purchase")
            ),
        ),
        (
            "sentinel_b.parquet",
            sentinel(200, -3, -3, "view").unionByName(
                sentinel(200, -4, -4, "purchase")
            ),
        ),
    ]
    in_dir, schema = _stage_ts_ordered_batches(
        spark, sides, base, 3, extra_files=extra
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "left_outer",
    ).select("view_id", "purchase_id", "user_id", "view_ts", "purchase_ts")
    emit_dir = os.path.join(base, "emit")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(emit_dir)

    run_available_now(
        joined, os.path.join(base, "ckpt"), sink, timeout_sec=600.0
    )
    out_schema = (
        "view_id bigint, purchase_id bigint, user_id bigint, "
        "view_ts timestamp, purchase_ts timestamp"
    )
    return (
        spark.read.schema(out_schema)
        .parquet(emit_dir)
        .filter(F.col("view_id") >= 0)
        .select(
            "view_id",
            "purchase_id",
            "user_id",
            F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        )
    )


@register(
    "streaming_window_agg",
    """
    -- Tumbling 1-hour event-time windows per event_type, finalized
    -- under append mode: a window emits exactly once, when the
    -- watermark passes its end. The staged feed is event-time-ordered
    -- with a 2 h watermark delay, so no window can finalize before all
    -- its events arrive; two far-future sentinel batches flush the
    -- tail windows (watermark advances in the first, the second runs
    -- the batch that emits the evictions).
    SELECT strftime(date_trunc('hour', ts), '{fmt}') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """.format(fmt="%Y-%m-%d %H:%M:%S.%f"),
    doc="Watermarked tumbling-window aggregation under Structured "
    "Streaming, append mode (SURVEY 2.2 streaming row) — the canonical "
    "finalized-window rollup a 100 TB event pipeline runs: state per "
    "(window, type) cell, bounded by the watermark horizon, emitted "
    "exactly once. Oracle = the equivalent batch GROUP BY "
    "date_trunc('hour').",
    tags=("streaming",),
)
def q_streaming_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..streaming import run_available_now

    events = read_sf_table(spark, sf, "events")
    sides = events.select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )

    def sentinel(day_offset: int):
        return events.agg(
            (
                F.max(F.col("ts").cast("timestamp"))
                + F.expr(f"INTERVAL {day_offset} DAYS")
            ).alias("ts"),
            F.lit("__sentinel__").alias("event_type"),
            F.lit(0.0).alias("value"),
        )

    base = tempfile.mkdtemp(prefix="stream_winagg_")
    atexit.register(shutil.rmtree, base, True)
    in_dir, schema = _stage_ts_ordered_batches(
        spark,
        sides,
        base,
        3,
        extra_files=[
            ("sentinel_a.parquet", sentinel(100)),
            ("sentinel_b.parquet", sentinel(200)),
        ],
    )
    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            _ts_str(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    emit_dir = os.path.join(base, "emit")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(emit_dir)

    run_available_now(agg, os.path.join(base, "ckpt"), sink, timeout_sec=600.0)
    out_schema = (
        "window_start string, event_type string, "
        "n_events bigint, total_value double"
    )
    return (
        spark.read.schema(out_schema)
        .parquet(emit_dir)
        .filter(F.col("event_type") != "__sentinel__")
    )


@register(
    "streaming_session_window",
    """
    -- Event-time session windows (30-min gap) per user under append
    -- mode: a session emits once, when the watermark passes its end
    -- (last event + gap). Same staged time-ordered feed + sentinel
    -- flush as streaming_window_agg; oracle reconstructs sessions with
    -- the lag/cumsum islands technique (twin of the batch
    -- session_window_agg oracle).
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, new_s DESC
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '{fmt}') AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sess GROUP BY user_id, sid
    """.format(fmt="%Y-%m-%d %H:%M:%S.%f"),
    doc="Streaming session-window aggregation with watermark (SURVEY "
    "2.2 streaming row): Spark's dynamic session merge runs in the "
    "state store, sessions finalize exactly once in append mode. Must "
    "produce byte-identical sessions to the batch session_window_agg "
    "path — one semantics, two execution modes. Sessions spanning "
    "micro-batch boundaries merge correctly because the feed is "
    "event-time-ordered and the 2 h watermark far exceeds the 30-min "
    "gap.",
    tags=("streaming",),
)
def q_streaming_session_window(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..streaming import run_available_now

    events = read_sf_table(spark, sf, "events")
    sides = events.select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id", "value"
    )

    def sentinel(day_offset: int, uid: int):
        return events.agg(
            (
                F.max(F.col("ts").cast("timestamp"))
                + F.expr(f"INTERVAL {day_offset} DAYS")
            ).alias("ts"),
            F.lit(uid).cast("long").alias("user_id"),
            F.lit(0.0).alias("value"),
        )

    base = tempfile.mkdtemp(prefix="stream_sesswin_")
    atexit.register(shutil.rmtree, base, True)
    in_dir, schema = _stage_ts_ordered_batches(
        spark,
        sides,
        base,
        3,
        extra_files=[
            ("sentinel_a.parquet", sentinel(100, -1)),
            ("sentinel_b.parquet", sentinel(200, -2)),
        ],
    )
    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(
            F.col("user_id"),
            F.session_window("ts", "30 minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            _ts_str(F.col("w.start")).alias("session_start"),
            "n_events",
            "total_value",
        )
    )
    emit_dir = os.path.join(base, "emit")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(emit_dir)

    run_available_now(agg, os.path.join(base, "ckpt"), sink, timeout_sec=600.0)
    out_schema = (
        "user_id bigint, session_start string, "
        "n_events bigint, total_value double"
    )
    return (
        spark.read.schema(out_schema)
        .parquet(emit_dir)
        .filter(F.col("user_id") >= 0)
    )


@register(
    "small_quantity_revenue",
    """
    SELECT p.p_brand,
           round(sum(l.l_extendedprice) / 7.0, 2) AS avg_weekly_revenue,
           CAST(count(*) AS BIGINT) AS n_small_orders
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < (
      SELECT 0.5 * avg(l2.l_quantity)
      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
    )
    GROUP BY p.p_brand
    """,
    doc="TPC-H Q17-shaped correlated aggregate: revenue from orders below "
    "half the part's average quantity. The correlated scalar subquery "
    "decorrelates into one per-part aggregate joined back (Catalyst "
    "RewriteCorrelatedScalarSubquery) — per-part stats partial-aggregate "
    "map-side; no per-row re-scan ever happens at any scale.",
    tags=("core",),
)
def q_small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = read_sf_table(spark, sf, "lineitem")
    part = read_sf_table(spark, sf, "part")
    li.createOrReplaceTempView("__li_q17")
    part.createOrReplaceTempView("__part_q17")
    return spark.sql(
        """
        SELECT p.p_brand,
               round(sum(l.l_extendedprice) / 7.0, 2) AS avg_weekly_revenue,
               CAST(count(*) AS BIGINT) AS n_small_orders
        FROM __li_q17 l
        JOIN __part_q17 p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity < (
          SELECT 0.5 * avg(l2.l_quantity)
          FROM __li_q17 l2 WHERE l2.l_partkey = l.l_partkey
        )
        GROUP BY p.p_brand
        """
    )


@register(
    "distributed_running_total",
    """
    SELECT event_id,
           round(sum(value) OVER (ORDER BY event_id), 4) AS running_total
    FROM events
    """,
    doc="Distributed prefix-sum (operators.distributed_cumsum): global "
    "running total computed as range-bucketed local cumsums + broadcast "
    "bucket offsets — the widest exchange spreads over 64 reducers where "
    "the naive Window.orderBy funnels 100 TB through ONE task. Oracle is "
    "the naive global window, pinning row-for-row equality.",
    tags=("ext",),
)
def q_distributed_running_total(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import distributed_cumsum

    ev = read_sf_table(spark, sf, "events")
    out = distributed_cumsum(ev, "event_id", "value", n_buckets=64)
    return out.select(
        "event_id", F.round("running_total", 4).alias("running_total")
    )


@register(
    "interpolate_daily_gaps",
    """
    WITH spine AS (
      SELECT et.event_type, s.s AS day
      FROM (SELECT DISTINCT event_type FROM events) et
      CROSS JOIN generate_series(TIMESTAMP '2024-01-01',
                                 TIMESTAMP '2024-01-30',
                                 INTERVAL 1 DAY) AS s(s)
    ),
    daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             sum(value) AS total
      FROM events WHERE value > 95 GROUP BY 1, 2
    ),
    grid AS (
      SELECT spine.event_type,
             datediff('day', TIMESTAMP '2024-01-01', spine.day) AS day_num,
             strftime(spine.day, '%Y-%m-%d') AS day,
             daily.total
      FROM spine LEFT JOIN daily
        ON spine.event_type = daily.event_type AND spine.day = daily.day
    ),
    filled AS (
      SELECT event_type, day_num, day, total,
             last_value(total IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN total IS NOT NULL THEN day_num END
                        IGNORE NULLS) OVER wb AS pt,
             first_value(total IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN total IS NOT NULL THEN day_num END
                         IGNORE NULLS) OVER wf AS nt
      FROM grid
      WINDOW wb AS (PARTITION BY event_type ORDER BY day_num
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY event_type ORDER BY day_num
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, day,
           round(CASE
             WHEN total IS NOT NULL THEN total
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * (day_num - pt) / (nt - pt)
           END, 4) AS total_filled,
           (total IS NULL) AS was_gap
    FROM filled
    """,
    doc="Linear gap interpolation (operators.interpolate_linear) over a "
    "per-key date spine: running-last/running-first ignorenulls frames "
    "share ONE (key, t) sort — single Exchange, codegen arithmetic; edge "
    "gaps clamp to the nearest value.",
    tags=("ext",),
)
def q_interpolate_daily_gaps(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import interpolate_linear

    ev = read_sf_table(spark, sf, "events")
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(1).select(
                F.explode(
                    F.sequence(
                        F.lit("2024-01-01").cast("timestamp"),
                        F.lit("2024-01-30").cast("timestamp"),
                        F.expr("INTERVAL 1 DAY"),
                    )
                ).alias("day")
            )
        )
    )
    daily = (
        ev.filter(F.col("value") > 95)
        .groupBy(
            F.col("event_type").alias("et2"),
            F.date_trunc("day", "ts").alias("d2"),
        )
        .agg(F.sum("value").alias("total"))
    )
    grid = spine.join(
        daily,
        (spine.event_type == daily.et2) & (spine.day == daily.d2),
        "left",
    ).select(
        "event_type",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")).alias(
            "day_num"
        ),
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "total",
    )
    out = interpolate_linear(
        grid, ["event_type"], "day_num", "total", out_col="total_filled"
    )
    return out.select(
        "event_type",
        "day",
        F.round("total_filled", 4).alias("total_filled"),
        F.col("total").isNull().alias("was_gap"),
    )


@register(
    "robust_outlier_values",
    """
    WITH med AS (
      SELECT event_type, median(value) AS m FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, median(abs(e.value - med.m)) AS d
      FROM events e JOIN med USING (event_type) GROUP BY e.event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN mad.d > 0
                          AND abs(e.value - med.m) / mad.d > 2.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(min(med.m), 4) AS med,
           round(min(mad.d), 4) AS mad
    FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
    GROUP BY e.event_type
    """,
    doc="Robust median/MAD outlier gate (operators.robust_outliers): "
    "survives heavy tails where mean/stddev z-scores self-destruct. Two "
    "exact-percentile passes (MAD needs the median first), both stat "
    "tables broadcast back; percentile_approx is the 100 TB swap-in.",
    tags=("ext",),
)
def q_robust_outlier_values(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import robust_outliers

    ev = read_sf_table(spark, sf, "events")
    flagged = robust_outliers(ev, "value", ["event_type"], z=2.5)
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("__m")
    )
    with_m = ev.join(F.broadcast(med), "event_type")
    mad = with_m.groupBy("event_type").agg(
        F.expr("percentile(abs(value - __m), 0.5)").alias("__d")
    )
    return (
        flagged.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("is_outlier").cast("long")).cast("bigint").alias(
                "n_outliers"
            ),
            F.round(F.min("__m"), 4).alias("med"),
            F.round(F.min("__d"), 4).alias("mad"),
        )
    )


@register(
    "weighted_sample_docs",
    """
    WITH keyed AS (
      SELECT source, doc_id, n_chars,
             ln(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     ::UBIGINT AS DOUBLE) / 4294967296.0) / n_chars AS k
      FROM documents WHERE n_chars > 0
    )
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM (SELECT source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY k DESC, doc_id) AS rn
          FROM keyed)
    WHERE rn <= 5
    """,
    doc="Deterministic weighted sampling without replacement, 5 docs per "
    "source weighted by length (ext/sampling.weighted_sample_per_group, "
    "Efraimidis-Spirakis A-ES with an md5-derived uniform): no RNG state, "
    "identical selection on any cluster layout; the oracle replays the "
    "exact arithmetic.",
    tags=("ext",),
)
def q_weighted_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.sampling import weighted_sample_per_group

    docs = read_sf_table(spark, sf, "documents")
    return weighted_sample_per_group(
        docs, "source", "doc_id", "n_chars", 5
    ).select("source", "doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))


@register(
    "source_kl_divergence",
    """
    WITH toks AS (
      SELECT source, lower(t.tok) AS tok
      FROM documents,
           UNNEST(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    st AS (SELECT source, tok, count(*) AS c_st FROM toks GROUP BY 1, 2),
    tt AS (SELECT tok, count(*) AS c_t FROM toks GROUP BY 1),
    s_tot AS (SELECT source, count(*) AS n_s FROM toks GROUP BY 1),
    g_tot AS (SELECT count(*) AS n_g FROM toks)
    SELECT st.source,
           CAST(max(s_tot.n_s) AS BIGINT) AS n_tokens,
           round(sum((c_st / n_s) * ln((c_st / n_s) / (c_t / n_g))), 4)
             AS kl_vs_corpus
    FROM st JOIN tt USING (tok) JOIN s_tot USING (source) CROSS JOIN g_tot
    GROUP BY st.source
    """,
    doc="Per-source KL divergence vs the corpus token distribution "
    "(ext/lm.source_kl_divergence) — the mixture-design diagnostic. One "
    "tokenize scan, two map-side-combined aggregations, margins joined "
    "token-keyed, totals broadcast; ln/arith in codegen.",
    tags=("ext",),
)
def q_source_kl_divergence(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.lm import source_kl_divergence

    docs = read_sf_table(spark, sf, "documents")
    return source_kl_divergence(docs)


@register(
    "funnel_conversion",
    f"""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.t1
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.t2
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM t1) AS BIGINT) AS n_viewed,
           CAST((SELECT count(*) FROM t2) AS BIGINT) AS n_clicked,
           CAST((SELECT count(*) FROM t3) AS BIGINT) AS n_purchased,
           round(CAST((SELECT count(*) FROM t3) AS DOUBLE)
                 / (SELECT count(*) FROM t1), 4) AS view_to_purchase
    """,
    doc="Ordered event funnel (view -> click-after -> purchase-after): "
    "three stage aggregations all keyed user_id — one logical shuffle key, "
    "co-partitioned joins reuse the exchange; no window over the full "
    "event stream. The conversion-analysis staple.",
    tags=("analytics",),
)
def q_funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.join(t1, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.join(t2, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1, n2, n3 = t1.count(), t2.count(), t3.count()
    return spark.createDataFrame(
        [(n1, n2, n3, round(n3 / n1, 4))],
        "n_viewed bigint, n_clicked bigint, n_purchased bigint, "
        "view_to_purchase double",
    )


@register(
    "retention_cohorts",
    """
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    )
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
           CAST(datediff('day', f.cohort, a.w) / 7 AS INT) AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM first_seen f JOIN activity a USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Retention cohort matrix: cohort = first-seen week, one row per "
    "(cohort, week offset) with active-user counts. Both aggregations key "
    "on user_id (shared shuffle); the distinct collapses activity to "
    "(user, week) pairs before the join — no event-grain join ever.",
    tags=("analytics",),
)
def q_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_sf_table(spark, sf, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("w"), F.col("cohort")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


@register(
    "vocab_coverage",
    """
    WITH toks AS (
      SELECT lower(t.tok) AS tok
      FROM documents,
           UNNEST(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    tc AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    ranked AS (
      SELECT c,
             row_number() OVER (ORDER BY c DESC, tok) AS rn,
             sum(c) OVER (ORDER BY c DESC, tok) AS cum
      FROM tc
    ),
    tot AS (SELECT sum(c) AS t, count(*) AS v FROM tc)
    SELECT CAST(t AS BIGINT) AS total_tokens,
           CAST(v AS BIGINT) AS vocab_size,
           CAST((SELECT min(rn) FROM ranked WHERE cum >= 0.9 * t)
                AS BIGINT) AS vocab_for_90pct
    FROM tot
    """,
    doc="Vocabulary coverage curve (tokenizer-design diagnostic): rank "
    "tokens by frequency, cumulative share, smallest vocab reaching 90% "
    "token coverage. The corpus-sized work is ONE map-side-combined "
    "count; the ranked cumsum runs over the vocabulary (bounded, orders "
    "of magnitude smaller than the corpus — distributed_cumsum is the "
    "swap-in if a vocabulary ever outgrows one reducer).",
    tags=("ext",),
)
def q_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    docs = read_sf_table(spark, sf, "documents")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.trim(F.col("text"))), "\\s+"),
                     lambda t: t != "")
        ).alias("tok")
    )
    tc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.desc("c"), F.col("tok"))
    ranked = tc.select(
        "c",
        F.row_number().over(w).alias("rn"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    tot = tc.agg(
        F.sum("c").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    ).first()
    v90 = (
        ranked.filter(F.col("cum") >= 0.9 * tot["t"])
        .agg(F.min("rn").cast("bigint"))
        .first()[0]
    )
    return spark.createDataFrame(
        [(tot["t"], tot["v"], v90)],
        "total_tokens bigint, vocab_size bigint, vocab_for_90pct bigint",
    )


@register(
    "cdc_apply_tombstones",
    f"""
    WITH state AS (
      SELECT user_id, value FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '{CUTOFF}'
      ) WHERE rn = 1
    ),
    latest AS (
      SELECT user_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             value
      FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts > TIMESTAMP '{CUTOFF}'
      ) WHERE rn = 1
    )
    SELECT COALESCE(s.user_id, l.user_id) AS user_id,
           round(CASE WHEN l.op IS NOT NULL THEN l.value
                      ELSE s.value END, 6) AS value
    FROM state s FULL OUTER JOIN latest l ON s.user_id = l.user_id
    WHERE l.op IS NULL OR l.op <> 'D'
    """,
    doc="CDC apply with delete tombstones (state.apply_cdc): the reference "
    "cache can only upsert/expire (cache.js:50-67); a CDC feed carries "
    "explicit deletes TTL can't express. Latest change per key wins "
    "(WindowGroupLimit prunes map-side), a final D removes the key, the "
    "state side joins on its own key (bucket-able). Here: post-cutoff "
    "events as the feed, 'error' mapped to D.",
    tags=("ext",),
)
def q_cdc_apply_tombstones(spark: SparkSession, sf: str) -> DataFrame:
    from ..state import apply_cdc

    ev = read_sf_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    state = (
        ev.filter(F.col("ts") <= F.lit(CUTOFF).cast("timestamp"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "value")
    )
    changes = ev.filter(F.col("ts") > F.lit(CUTOFF).cast("timestamp")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "value",
    )
    nxt = apply_cdc(
        state, changes, "user_id", "ts", tiebreak="event_id",
        payload_cols=["value"],
    )
    return nxt.select("user_id", F.round("value", 6).alias("value"))


@register(
    "event_type_cooccurrence",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n_users AS (SELECT count(DISTINCT user_id) AS n FROM events),
    singles AS (SELECT event_type, count(*) AS c FROM ut GROUP BY event_type)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_both,
           round(count(*) / min(n_users.n), 4) AS support,
           round(CAST(count(*) AS DOUBLE) * min(n_users.n)
                 / (min(sa.c) * min(sb.c)), 4) AS lift
    FROM ut a
    JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
    JOIN singles sa ON sa.event_type = a.event_type
    JOIN singles sb ON sb.event_type = b.event_type
    CROSS JOIN n_users
    GROUP BY a.event_type, b.event_type
    """,
    doc="Co-occurrence / frequent-pair mining over user baskets: collapse "
    "to DISTINCT (user, type) first — the self-join then multiplies only "
    "basket sizes (bounded by the type vocabulary), never raw event "
    "counts; support and lift from broadcast singletons. The pair "
    "explode routes through ext.graph.within_group_pairs so "
    "max_basket_size can cap whale users (registry runs uncapped).",
    tags=("analytics",),
)
def q_event_type_cooccurrence(
    spark: SparkSession,
    sf: str,
    *,
    max_basket_size: int | None = None,
    observation=None,
) -> DataFrame:
    from ..ext.graph import within_group_pairs

    ev = read_sf_table(spark, sf, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ev.select(F.countDistinct("user_id").alias("n"))
    singles = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("c").alias("ca")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("c").alias("cb")
    )
    return (
        within_group_pairs(
            ut,
            "user_id",
            "event_type",
            item_a="type_a",
            item_b="type_b",
            max_group_size=max_basket_size,
            observation=observation,
            dropped_metric="etc_rows_in_dropped_users",
            max_metric="etc_max_user_types",
        )
        .join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_both"),
            F.round(F.count(F.lit(1)) / F.min("n"), 4).alias("support"),
            F.round(
                F.count(F.lit(1)).cast("double")
                * F.min("n")
                / (F.min("ca") * F.min("cb")),
                4,
            ).alias("lift"),
        )
        .select("type_a", "type_b", "n_both", "support", "lift")
    )




@register(
    "audio_adpcm_roundtrip",
    """
    -- the Spark side round-trips every embedding through a REAL
    -- COMPRESSED audio codec (IMA/DVI ADPCM in WAV, wFormatTag 0x11:
    -- 4-bit adaptive-step codes, 4.1:1 vs 16-bit PCM). ADPCM is LOSSY
    -- on arbitrary signals, so like JPEG the decidable cross-engine
    -- claims are the container facts (rate, sample count, actual
    -- data-chunk size = 4 + n//2), the losslessly-carried block-header
    -- first sample, the codec's fixed-point property (re-encoding the
    -- decoded signal is EXACT — refix_ok), and a measured error bound
    -- (per-clip err^2 <= 8x signal energy, i.e. SNR > -9 dB; measured
    -- worst clip ratios by decade: 1.87 (sf0.001/0.01), 1.59 (sf0.1),
    -- 3.34 (sf1), 4.49 (sf10, one adversarial-distribution clip in
    -- 200k) -- the 8x gate holds every measured decade with ~1.8x
    -- margin; corpus SNR ~6.0 dB).
    SELECT vec_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(len(embedding) AS INT) AS n_samples,
           CAST(4 + len(embedding) // 2 AS INT) AS n_block_bytes,
           CAST(greatest(least(floor(CAST(embedding[1] AS DOUBLE) * 32767
                                     + 0.5), 32767), -32768) AS INT)
             AS first_sample,
           true AS refix_ok,
           true AS err_bounded
    FROM embeddings
    """,
    doc="E5 fourth REAL COMPRESSED decoder and the first compressed "
    "AUDIO one (IMA/DVI ADPCM, the RFC 3551 DVI4 tables, stdlib+numpy "
    "only; ext/audio.py _adpcm_encode_block/_adpcm_decode_block): "
    "embeddings -> int16 PCM (the synthesize_wav quantization) -> IMA "
    "ADPCM WAV blobs (fmt 0x11 + cbSize extension, fact chunk, one "
    "block per clip) -> chunk walk, predictor/step-index state machine "
    "decode -> per-clip facts + decoded samples. The error gate runs "
    "JVM-side (zip_with/aggregate vs the relationally-derived source "
    "samples); the fixed-point gate re-encodes in the same Arrow seam. "
    "One mapInPandas pass per direction; blobs never shuffle.",
    tags=("ext",),
)
def q_audio_adpcm_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.audio import decode_adpcm_samples, synthesize_adpcm

    emb = read_sf_table(spark, sf, "embeddings")
    dec = decode_adpcm_samples(synthesize_adpcm(emb))
    src_q = F.transform(
        F.col("embedding"),
        lambda x: F.greatest(
            F.least(
                F.floor(x.cast("double") * 32767.0 + 0.5), F.lit(32767.0)
            ),
            F.lit(-32768.0),
        ).cast("int"),
    )
    src = read_sf_table(spark, sf, "embeddings").select(
        "vec_id", src_q.alias("__src")
    )
    joined = dec.join(src, "vec_id")
    sq = lambda d, s: (d - s).cast("bigint") * (d - s).cast("bigint")  # noqa: E731
    err2 = F.aggregate(
        F.zip_with("samples", "__src", sq),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    src2 = F.aggregate(
        "__src",
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x.cast("bigint") * x.cast("bigint"),
    )
    return joined.select(
        "vec_id",
        "sample_rate",
        "n_samples",
        "n_block_bytes",
        "first_sample",
        "refix_ok",
        (err2 <= F.lit(8) * src2).alias("err_bounded"),
    )


@register(
    "audio_adpcm_stereo_roundtrip",
    """
    -- stereo IMA ADPCM (the RIFF multimedia spec's 2-channel block
    -- interleave: one 4-byte state header PER channel, then 4-byte
    -- words of 8 codes alternating left/right; each channel runs an
    -- independent predictor/step state). The embedding de-interleaves
    -- into L/R frames (even 0-based positions left). Decidable facts:
    -- container scalars (n_block_bytes = 8 header bytes + 8 per
    -- interleave group of 8 frames), BOTH block-header first samples
    -- carried losslessly, the per-channel re-encode fixed point, and
    -- the same 8x energy error gate as mono summed over channels
    -- (channels decode independently, so the mono error envelope
    -- applies per channel).
    SELECT vec_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(len(embedding) // 2 AS INT) AS n_frames,
           CAST(8 + ((len(embedding) // 2 - 1 + 7) // 8) * 8 AS INT)
             AS n_block_bytes,
           CAST(greatest(least(floor(CAST(embedding[1] AS DOUBLE) * 32767
                                     + 0.5), 32767), -32768) AS INT)
             AS first_left,
           CAST(greatest(least(floor(CAST(embedding[2] AS DOUBLE) * 32767
                                     + 0.5), 32767), -32768) AS INT)
             AS first_right,
           true AS refix_ok,
           true AS err_bounded
    FROM embeddings
    """,
    doc="E5 stereo twin of audio_adpcm_roundtrip (VERDICT r9 item 5): "
    "embeddings -> L/R int16 frames -> one stereo IMA ADPCM block "
    "(per-channel headers + 4-byte-word interleave, "
    "ext/audio.py _adpcm_encode_block_stereo) -> chunk walk + "
    "interleave-aware decode -> per-clip facts; error and fixed-point "
    "gates run against the relationally de-interleaved source "
    "channels JVM-side. One mapInPandas pass per direction; blobs "
    "never shuffle.",
    tags=("ext",),
)
def q_audio_adpcm_stereo_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from ..ext.audio import decode_adpcm_stereo_samples, synthesize_adpcm_stereo

    emb = read_sf_table(spark, sf, "embeddings")
    dec = decode_adpcm_stereo_samples(synthesize_adpcm_stereo(emb))

    def quant(x):
        return (
            F.greatest(
                F.least(
                    F.floor(x.cast("double") * 32767.0 + 0.5),
                    F.lit(32767.0),
                ),
                F.lit(-32768.0),
            ).cast("int")
        )

    trimmed = F.expr(
        "slice(embedding, 1, CAST(size(embedding) / 2 AS INT) * 2)"
    )
    src = read_sf_table(spark, sf, "embeddings").select(
        "vec_id",
        F.transform(
            F.filter(trimmed, lambda x, i: i % 2 == 0), quant
        ).alias("__srcl"),
        F.transform(
            F.filter(trimmed, lambda x, i: i % 2 == 1), quant
        ).alias("__srcr"),
    )
    joined = dec.join(src, "vec_id")
    sq = lambda d, s: (d - s).cast("bigint") * (d - s).cast("bigint")  # noqa: E731

    def err2(dec_col, src_col):
        return F.aggregate(
            F.zip_with(dec_col, src_col, sq),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    def energy(src_col):
        return F.aggregate(
            src_col,
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x.cast("bigint") * x.cast("bigint"),
        )

    total_err = err2("left_samples", "__srcl") + err2("right_samples", "__srcr")
    total_src = energy("__srcl") + energy("__srcr")
    return joined.select(
        "vec_id",
        "sample_rate",
        "n_frames",
        "n_block_bytes",
        "first_left",
        "first_right",
        "refix_ok",
        (total_err <= F.lit(8) * total_src).alias("err_bounded"),
    )
