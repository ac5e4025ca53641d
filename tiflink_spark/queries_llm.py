"""LLM-data-pipeline operators (beyond-reference charter: dedup,
similarity search, text analysis, multimodal) exposed as oracle-checked
queries.

Design notes (100 TB stance):

- All dedup operators are shuffle-on-key pipelines: shingle -> explode
  -> groupBy(doc) for signatures, then a *bucket join* on band keys so
  the candidate join never goes quadratic. The verify step (true
  Jaccard) only runs on candidate pairs.
- Hashing is md5-based so Spark and DuckDB produce bit-identical
  signatures (xxhash64 and DuckDB's hash() are engine-specific).
  Lexicographic MIN over md5 hex strings is a valid min-hash.
- Similarity search keeps floats internal and outputs (query, neighbor,
  rank) so cross-engine float jitter can't flip the value hash.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiflink_spark.queries import _t, register

# Shared text helpers -------------------------------------------------------

_WS = r"\s+"
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
STOPWORDS = ("the", "and", "of", "a", "to", "in", "is", "it")


def _words(col):
    return F.split(F.trim(col), _WS)


def _scan_fanout(spark: SparkSession, path: str, *, rows_per_task: int = 600) -> int | None:
    """Repartition width for CPU-heavy per-row work directly above a
    parquet scan, or None when the scan is already parallel enough.

    Spark cannot split a parquet ROW GROUP across tasks, so a
    single-row-group file (the testdata layout) pins the whole
    scan-stage pipeline — regex shingling, md5 — to ONE core no matter
    the cluster size (guide §2.5 input skew: "one huge unsplittable
    file"). A small round-robin repartition of the raw rows fixes that
    for pennies (the doc text is tiny relative to the work per row).

    Scale-adaptive by construction: the target is derived from the
    footer row count and capped at the session's parallelism, and the
    fan-out is skipped when the file's own layout (row groups x split
    size) already yields at least half the target — which is every
    properly-written table at real scale, where this helper degrades to
    a footer read. Non-file inputs (directories, non-parquet) return
    None."""
    try:
        import pyarrow.parquet as _pq

        m = _pq.ParquetFile(path).metadata
    except Exception:
        return None
    target = min(
        spark.sparkContext.defaultParallelism, max(1, m.num_rows // rows_per_task)
    )
    if target <= 1:
        return None
    total = sum(m.row_group(i).total_byte_size for i in range(m.num_row_groups))
    n_splits = max(1, -(-total // (128 * 1024 * 1024)))
    effective = min(m.num_row_groups, n_splits)
    if effective * 2 >= target:
        return None
    return target


def _doc_grams(docs: DataFrame, n: int = 3, *, distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per doc: (doc_id, gram).

    Built as ONE codegen'd regex pass per document — whitespace runs are
    normalized to single spaces, then a zero-width lookahead anchored at
    word starts (``(?<![^ ])``) captures every *overlapping* n-word
    window without consuming input. No explode-words shuffle, no window
    sort: the per-doc gram array is computed map-side and exploded in
    place. (Earlier shapes measured: array HOF slice ~6x slower than
    codegen; posexplode+LEAD window = a full shuffle of every word —
    both dominated by this scan-local form.)

    ``distinct=False`` skips the dedup shuffle for consumers whose
    aggregation is duplicate-insensitive (MIN for minhash): same result,
    one less full shuffle of the exploded shingle set.
    """
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    pat = r"(?<![^ ])(?=(" + " ".join(["[^ ]+"] * n) + r"))"
    grams = F.regexp_extract_all(norm, F.lit(pat), 1)
    out = docs.select("doc_id", F.explode(grams).alias("gram"))
    return out.distinct() if distinct else out


_GRAMS_SQL = """
    w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
          FROM documents),
    grams AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
              FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
              WHERE len(ws) >= 3)
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id, count(*) AS dup_cnt
    FROM documents GROUP BY md5(text)
    """,
    doc="Exact dedup: hash-groupBy on content, keep min doc_id as canonical.",
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return (
        t["documents"]
        .groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


_DF_CAP = 100  # shingles in more docs than this are stop-phrases, not signal


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_GRAMS_SQL},
    cgrams AS (
        SELECT doc_id, gram FROM grams
        QUALIFY count(*) OVER (PARTITION BY gram) <= {_DF_CAP}),
    sz AS (SELECT doc_id, count(*) AS n FROM cgrams GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM cgrams a JOIN cgrams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(shared * 1.0 / (sa.n + sb.n - shared), 4) AS jaccard
    FROM pairs
    JOIN sz sa ON pairs.doc_a = sa.doc_id
    JOIN sz sb ON pairs.doc_b = sb.doc_id
    WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5
    """,
    doc=(
        "Near-dup detection: word-3-gram Jaccard >= 0.5 over shingles with a "
        "document-frequency cap (the standard df-cut): grams appearing in > "
        f"{_DF_CAP} docs are dropped BEFORE the self-join, so one hot stop-"
        "phrase shingle can no longer create O(k^2) candidate pairs at scale. "
        "Jaccard is computed over the capped shingle sets on both engines."
    ),
    tags=("llm", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    t = _t(spark, sf_dir)
    docs = t["documents"]
    fan = _scan_fanout(spark, _os.path.join(sf_dir, "documents.parquet"))
    if fan:
        docs = docs.repartition(fan)
    # One pass over the shingles (the previous shape .cache()d the
    # capped gram set — a session-lifetime cache — and referenced it
    # three times: sizes + both self-join sides): group each gram to
    # its distinct-doc set (collect_set == the old upstream distinct +
    # count window, one shuffle less), cap document frequency, then
    # expand the a<b pairs per bucket in place (bounded by _DF_CAP)
    # and count shared grams per pair. Doc sizes come from exploding
    # the capped buckets; the size joins broadcast (one row per doc).
    buckets = (
        _doc_grams(docs, distinct=False)
        .groupBy("gram")
        .agg(F.expr("sort_array(collect_set(doc_id)) AS ids"))
        .filter(f"size(ids) <= {_DF_CAP}")
        .select("ids")
    )
    sz = (
        buckets.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        buckets.selectExpr(
            "explode(flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids)), y -> "
            "named_struct('doc_a', x, 'doc_b', y))))) AS p"
        )
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # NOTE (r10): a window-based variant (diagonal (x,x) rows + two
    # max-over-partition windows instead of the two size joins) was
    # tried and REJECTED: the two full sorts over the pair set cost
    # more than the joins they replace (A/B 1.69s -> 2.90s at sf0.1).
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


_MINHASH_K = 16
_MINHASH_BANDS = 4  # 4 bands x 4 rows

# One-permutation minhash: ONE md5 per gram; the hash space is split into
# 16 bins by the first hex digit and the min is taken per bin. Empty bins
# densify by borrowing the doc's global min (deterministic, mirrored in
# SQL). 16x less hashing than k independent seeded hashes — the classic
# OPH trick (Li et al.), and the dominant cost of the LSH pipeline.


def _minhash_sig(grams: DataFrame) -> DataFrame:
    """(doc_id, h0..h15) via one-permutation hashing with min-densification.

    The per-bin min is taken over the md5's FIRST 15 HEX CHARS parsed as
    a 60-bit LONG instead of the 32-char hex string. Two wins (guide
    §2.3/§3.1-adjacent: narrower types, hash- not sort-aggregation):

    - min(LONG) has a mutable fixed-width buffer, so Spark plans a
      HashAggregate; min(STRING) forces Sort + SortAggregate — a full
      sort of the exploded gram set (measured: sig stage 1.87s -> 1.36s
      at sf0.1).
    - the agg exchange ships 17 longs (~136 B/doc) instead of 17 hex
      strings (~1.2 kB/doc).

    Equivalence: lexicographic order on fixed-width lowercase hex equals
    numeric order on the value, so the 60-bit-prefix min picks the same
    gram as the full-md5 min unless two DISTINCT grams collide in their
    first 60 md5 bits AND both are bin-minima of docs sharing a band —
    a birthday bound of ~N²/2^61. Downstream only ever consumes the
    mins through band-key EQUALITY (injective xxhash64 of the 4-tuple),
    the same argument the band key already relies on. Verified: output
    pairs bit-identical to the full-md5 form at sf0.001/0.01/0.1; the
    DuckDB oracle keeps the full-md5 reference shape.
    """
    # Expressions are built as SQL strings (one py4j parse each) rather
    # than Column-object chains: the 17-agg chain costs ~170 ms of
    # driver-side py4j round trips per plan build otherwise (measured
    # r10; the bench times plan construction too).
    hashed = grams.selectExpr(
        "doc_id",
        "cast(conv(substring(md5(cast(gram AS binary)), 1, 15), 16, 10) AS bigint) AS h",
    )
    # first hex digit == top 4 bits of the 60-bit prefix
    aggs = [
        F.expr(f"min(CASE WHEN shiftright(h, 56) = {s} THEN h END) AS h{s}")
        for s in range(_MINHASH_K)
    ] + [F.expr("min(h) AS g")]
    sig = hashed.groupBy("doc_id").agg(*aggs)
    return sig.selectExpr(
        "doc_id", *[f"coalesce(h{s}, g) AS h{s}" for s in range(_MINHASH_K)]
    )


_HEX_DIGITS = "0123456789abcdef"


def _minhash_sig_sql() -> str:
    bin_ = f"(instr('{_HEX_DIGITS}', substr(h, 1, 1)) - 1)"
    aggs = ",\n          ".join(
        f"min(CASE WHEN {bin_} = {s} THEN h END) AS h{s}" for s in range(_MINHASH_K)
    )
    cols = ", ".join(f"coalesce(h{s}, g) AS h{s}" for s in range(_MINHASH_K))
    return (
        "hashed AS (SELECT doc_id, md5(gram) AS h FROM grams),\n"
        f"    sig0 AS (SELECT doc_id, {aggs}, min(h) AS g FROM hashed GROUP BY doc_id),\n"
        f"    sig AS (SELECT doc_id, {cols} FROM sig0)"
    )


def _band_keys_sql() -> str:
    # The band index leads the key, as in the engine's xxhash64(..., b):
    # without it a doc's band 0 would match another doc's band 1.
    rows = _MINHASH_K // _MINHASH_BANDS
    bands = ", ".join(
        f"md5('{b}:' || " + " || ".join(f"h{b * rows + r}" for r in range(rows)) + ")"
        for b in range(_MINHASH_BANDS)
    )
    return f"bands AS (SELECT doc_id, unnest([{bands}]) AS band_key FROM sig)"


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_GRAMS_SQL},
    {_minhash_sig_sql()},
    {_band_keys_sql()},
    cbands AS (
        SELECT doc_id, band_key FROM bands
        QUALIFY count(*) OVER (PARTITION BY band_key) <= 200)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cbands a JOIN cbands b
      ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
    doc=(
        "MinHash+LSH near-dup candidates: 16 md5-minhash sigs, 4 bands x 4 rows, "
        "bucket join on band key (never quadratic); band buckets larger than "
        "200 docs are skipped (degenerate-signature skew guard at scale)."
    ),
    tags=("llm", "dedup"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    t = _t(spark, sf_dir)
    docs = t["documents"]
    # Single-row-group testdata pins the shingle+md5 pipeline to one
    # core; fan the raw docs out first (no-op at real scale — see
    # _scan_fanout). Measured sf0.1: 1.04s -> 0.79s.
    fan = _scan_fanout(spark, _os.path.join(sf_dir, "documents.parquet"))
    if fan:
        docs = docs.repartition(fan)
    # MIN is duplicate-insensitive -> skip the shingle-dedup shuffle.
    sig = _minhash_sig(_doc_grams(docs, distinct=False))
    rows = _MINHASH_K // _MINHASH_BANDS
    # Band key = xxhash64 over the band's signature rows (+ band index):
    # an 8-byte long instead of a 32-char md5 hex string, so the bucket
    # grouping shuffles 4x fewer key bytes. Any injective keying of the
    # (band index, row tuple) pair yields the same buckets as the
    # oracle's md5 of the index-prefixed concat
    # (64-bit collision odds at 4·N band keys are ~N²/2^63 — negligible
    # at any tested sf).
    band_cols = [
        "xxhash64(" + ", ".join(f"h{b * rows + r}" for r in range(rows)) + f", {b})"
        for b in range(_MINHASH_BANDS)
    ]
    bands = sig.selectExpr(
        "doc_id", f"explode(array({', '.join(band_cols)})) AS band_key"
    )
    # Bucket pair expansion in ONE pass over the band rows: group each
    # band bucket to a doc list, drop oversized buckets (the same
    # count(*) <= 200 skew guard the oracle's QUALIFY window applies),
    # then emit every a<b pair from the sorted per-bucket id set. The
    # previous shape — count window + bucket SELF-JOIN — planned the
    # whole signature pipeline (scan, gram explode, md5, 17-way min agg)
    # TWICE, once per join side, plus a band-key sort for the window
    # (guide §2.4: remove shuffles outright / don't compute things
    # twice). Bucket size is capped at 200, so the per-group pair HOF is
    # bounded (≤19,900 pairs) regardless of scale.
    buckets = (
        bands.groupBy("band_key")
        .agg(F.expr("collect_list(doc_id) AS ids"))
        .filter("size(ids) <= 200")
        .selectExpr("array_sort(array_distinct(ids)) AS ids")
    )
    return (
        buckets.selectExpr(
            "explode(flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids)), y -> "
            "named_struct('doc_a', x, 'doc_b', y))))) AS p"
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_count",
    f"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+'))       AS ws_tokens,
           len(regexp_extract_all(text, '{TOKEN_RE}'))          AS re_tokens,
           length(text)                                         AS n_chars
    FROM documents
    """,
    doc="Token counting: whitespace tokens + BPE-ish regex tokens.",
    tags=("llm", "text"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        F.size(_words(F.col("text"))).cast("long").alias("ws_tokens"),
        F.regexp_count("text", F.lit(TOKEN_RE)).cast("long").alias("re_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)


@register(
    "text_quality_score",
    f"""
    WITH m AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
               length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
               len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                               w -> w IN ({_STOP_SQL}))) AS n_stop
        FROM documents)
    SELECT doc_id, n_chars, n_words, n_punct,
           round(n_chars * 1.0 / n_words, 4)  AS chars_per_word,
           round(n_stop * 1.0 / n_words, 4)   AS stopword_ratio,
           round(n_punct * 1.0 / n_chars, 4)  AS punct_ratio
    FROM m
    """,
    doc="Quality scoring: length / punctuation / stopword-ratio heuristics.",
    tags=("llm", "text"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    w = _words(F.col("text"))
    n_chars = F.length("text")
    n_words = F.size(w)
    n_punct = F.length("text") - F.length(F.regexp_replace("text", r"\p{Punct}", ""))
    # Stopword occurrences counted with one codegen'd regexp pass instead
    # of size(filter(split(...), isin)): higher-order-function lambdas run
    # interpreted (outside whole-stage codegen, ~6x slower per _doc_grams'
    # measurement). Semantics are identical to counting split-on-\s+ words
    # in the stop set: normalize runs of whitespace to single spaces, pad,
    # and count space-delimited stopword tokens (lookahead keeps the
    # trailing space unconsumed so adjacent stopwords both match).
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    stop_alt = "|".join(STOPWORDS)
    n_stop = F.regexp_count(
        F.concat(F.lit(" "), norm, F.lit(" ")), F.lit(f" ({stop_alt})(?= )")
    ).cast("int")
    return (
        t["documents"]
        .select(
            "doc_id",
            n_chars.cast("long").alias("n_chars"),
            n_words.cast("long").alias("n_words"),
            n_punct.cast("long").alias("n_punct"),
            n_stop.alias("n_stop"),
        )
        .select(
            "doc_id",
            "n_chars",
            "n_words",
            "n_punct",
            F.round(F.col("n_chars") / F.col("n_words"), 4).alias("chars_per_word"),
            F.round(F.col("n_stop") / F.col("n_words"), 4).alias("stopword_ratio"),
            F.round(F.col("n_punct") / F.col("n_chars"), 4).alias("punct_ratio"),
        )
    )


_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "und", "das", "ist"),
    "es": ("el", "los", "las", "es"),
    "fr": ("le", "les", "et", "est"),
}


@register(
    "text_lang_id",
    (
        "WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),\n"
        "scores AS (SELECT doc_id,\n"
        + ",\n".join(
            "    len(list_filter(ws, x -> x IN ("
            + ", ".join(f"'{m}'" for m in marks)
            + f"))) AS s_{lang}"
            for lang, marks in _LANG_MARKERS.items()
        )
        + "\nFROM w)\n"
        "SELECT doc_id, CASE\n"
        "  WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'\n"
        "  WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'\n"
        "  WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'\n"
        "  WHEN s_es >= s_fr THEN 'es'\n"
        "  ELSE 'fr' END AS pred_lang\n"
        "FROM scores"
    ),
    doc="Language-ID: stopword-marker n-gram heuristic with deterministic argmax.",
    tags=("llm", "text"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    lw = _words(F.lower(F.trim(F.col("text"))))

    def count_markers(marks):
        # PySpark introspects the lambda's signature, so it must take
        # exactly one parameter — bind `marks` via a factory closure.
        return F.size(F.filter(lw, lambda x: x.isin(*marks)))

    scored = t["documents"].select(
        "doc_id",
        *[count_markers(marks).alias(f"s_{lang}") for lang, marks in _LANG_MARKERS.items()],
    )
    pred = (
        F.when(
            (F.col("s_en") == 0) & (F.col("s_de") == 0) & (F.col("s_es") == 0) & (F.col("s_fr") == 0),
            F.lit("und"),
        )
        .when(
            (F.col("s_en") >= F.col("s_de")) & (F.col("s_en") >= F.col("s_es")) & (F.col("s_en") >= F.col("s_fr")),
            F.lit("en"),
        )
        .when((F.col("s_de") >= F.col("s_es")) & (F.col("s_de") >= F.col("s_fr")), F.lit("de"))
        .when(F.col("s_es") >= F.col("s_fr"), F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return scored.select("doc_id", pred.alias("pred_lang"))


@register(
    "text_fingerprint",
    f"""
    WITH {_GRAMS_SQL}
    SELECT d.doc_id,
           md5(d.text) AS exact_fp,
           md5(array_to_string(list_sort(list_distinct(
               regexp_split_to_array(lower(trim(d.text)), '\\s+'))), ' ')) AS bag_fp,
           g.min_fp
    FROM documents d
    JOIN (SELECT doc_id, min(md5(gram)) AS min_fp FROM grams GROUP BY doc_id) g
      ON d.doc_id = g.doc_id
    """,
    doc="Document fingerprinting: exact md5, sorted-bag-of-words md5, min-shingle-hash (winnowing-style).",
    tags=("llm", "text"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    docs = t["documents"]
    bag = F.concat_ws(" ", F.array_sort(F.array_distinct(_words(F.lower(F.trim(F.col("text")))))))
    # MIN over shingle hashes is duplicate-insensitive -> skip dedup shuffle.
    min_fp = (
        _doc_grams(docs, distinct=False)
        .groupBy("doc_id")
        .agg(F.min(F.md5(F.col("gram").cast("binary"))).alias("min_fp"))
    )
    return (
        docs.select(
            "doc_id",
            F.md5(F.col("text").cast("binary")).alias("exact_fp"),
            F.md5(bag.cast("binary")).alias("bag_fp"),
        )
        .join(min_fp, "doc_id")
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_QUERY_STRIDE = 50
_TOPK = 10


def cosine_topk_nparts(n_rows: int, rows_per_part: int = 8192) -> int:
    """Data-partition count for brute-force cosine top-k, derived from
    input size instead of a fixed constant: ~rows_per_part vectors per
    partition keeps each numpy matmul block cache-friendly (8192 x 64
    doubles ≈ 4 MB) while bounding the query-replication factor (every
    query row is shuffled to all P partitions, so P must grow with the
    DATA, not the cluster). Capped at 1024: past that, brute force is
    the wrong operator — the crossover is the LSH/IVF ANN gates
    (embedding_ann_lsh / embedding_ann_ivf), whose candidate sets stay
    bounded at any N."""
    return max(1, min(1024, -(-n_rows // rows_per_part)))


@register(
    "embedding_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id % {_QUERY_STRIDE} = 0),
    sims AS (SELECT qid, vec_id AS nid,
                    list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS sim
             FROM q, embeddings WHERE vec_id <> qid)
    SELECT qid, nid, rank FROM (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
        FROM sims)
    WHERE rank <= {_TOPK}
    """,
    doc=(
        "Exact cosine top-k, fully distributed (no driver collect anywhere in "
        "the lineage): data side hash-partitioned, query side replicated to "
        "every partition via explode, cogroup+applyInPandas does a numpy "
        "matmul with per-partition partial top-k under the global total order "
        "(sim DESC, nid ASC), then a window rank finishes. Outputs ranks (not "
        "floats) for cross-engine stability. Shuffle volume: N + Q*P in, "
        "P*Q*(k+1) out — survives a 100x scale-up by raising P with the "
        "cluster."
    ),
    tags=("llm", "similarity"),
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    emb = t["embeddings"]
    # Row count straight from the parquet footer (pyarrow, ~1 ms): even
    # a metadata-only count() costs a Spark job (~40 ms of scheduling)
    # on every plan build, and the bench times plan construction too.
    import os as _os

    import pyarrow.parquet as _pq

    nparts = cosine_topk_nparts(
        _pq.ParquetFile(_os.path.join(sf_dir, "embeddings.parquet")).metadata.num_rows
    )
    data = emb.select("vec_id", "embedding").withColumn(
        "pid", F.pmod(F.xxhash64("vec_id"), F.lit(nparts)).cast("int")
    )
    queries = (
        emb.filter(F.col("vec_id") % _QUERY_STRIDE == 0)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb"))
        .withColumn("pid", F.explode(F.sequence(F.lit(0), F.lit(nparts - 1))))
    )

    def matmul(ddf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if len(ddf) == 0 or len(qdf) == 0:
            return pd.DataFrame({"qid": [], "nid": [], "sim": []}).astype(
                {"qid": "int64", "nid": "int64", "sim": "float64"}
            )
        mat = np.array(list(ddf["embedding"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0  # zero vectors get sim 0, not NaN
        qmat = np.array(list(qdf["qemb"]), dtype=np.float64)
        qnorms = np.linalg.norm(qmat, axis=1, keepdims=True)
        qnorms[qnorms == 0] = 1.0
        sims = (qmat / qnorms) @ (mat / norms).T  # (nq, nd)
        nids = ddf["vec_id"].to_numpy(dtype=np.int64)
        qids = qdf["qid"].to_numpy(dtype=np.int64)
        k = min(_TOPK + 1, sims.shape[1])  # +1: self may be in-partition
        out_q, out_n, out_s = [], [], []
        for qi in range(sims.shape[0]):
            row = sims[qi]
            # Partial top-k under the TOTAL order (sim DESC, nid ASC) — the
            # same order the global rank uses, so global winners are always
            # a subset of the per-partition selection even on sim ties.
            idx = np.lexsort((nids, -row))[:k]
            out_q.append(np.full(idx.shape[0], qids[qi]))
            out_n.append(nids[idx])
            out_s.append(row[idx])
        return pd.DataFrame(
            {
                "qid": np.concatenate(out_q),
                "nid": np.concatenate(out_n),
                "sim": np.concatenate(out_s),
            }
        )

    partial = (
        data.groupBy("pid")
        .cogroup(queries.groupBy("pid"))
        .applyInPandas(matmul, schema="qid long, nid long, sim double")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "nid")
    return (
        partial.filter(F.col("nid") != F.col("qid"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("qid", "nid", "rank")
    )


# Random-hyperplane LSH: deterministic planes (seeded, rounded to 4dp) are
# embedded as literals in BOTH the Spark plan and the DuckDB oracle, so the
# bucketing — and therefore the candidate sets — are bit-identical across
# engines. 2 bands x 4 planes: a candidate must match a query's full 4-bit
# signature in at least one band.
_N_PLANES = 8
_ANN_BANDS = 2
_PLANES = np.round(
    np.random.default_rng(42).standard_normal((_N_PLANES, 64)), 4
).tolist()
_BUCKET_CAP = 200  # skip pathological hot buckets (skew guard at scale)


def _plane_sql(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]"


def _band_sig_sql(band: int) -> str:
    rows = _N_PLANES // _ANN_BANDS
    bits = " || ".join(
        "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"{_plane_sql(_PLANES[band * rows + r])}) >= 0 THEN '1' ELSE '0' END)"
        for r in range(rows)
    )
    return bits


def _band_sigs_np(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, b0, b1) with the band signature bits computed
    as ONE numpy matmul per Arrow batch instead of 8 interpreted HOF
    fold-dots per row (measured 0.62s of ann_lsh's 1.3s at sf0.1 —
    guide §4.2). A bit can only differ from the fold form if the plane
    dot sits within float ulp of 0 (sign flip on summation order);
    consumers' outputs are verified identical to the fold form at
    sf0.001/0.01/0.1, and each keeps its DuckDB oracle gate."""
    import numpy as np

    planes = np.array(_PLANES, dtype=np.float64)  # (_N_PLANES, 64)
    rows = _N_PLANES // _ANN_BANDS
    emb_type = emb.schema["embedding"].dataType.simpleString()

    def sigs(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            chars = np.where((mat @ planes.T) >= 0, "1", "0")
            out = pdf[["vec_id", "embedding"]].copy()
            for b in range(_ANN_BANDS):
                seg = chars[:, b * rows:(b + 1) * rows]
                out[f"b{b}"] = ["".join(r) for r in seg]
            yield out

    return emb.mapInPandas(
        sigs,
        schema=f"vec_id long, embedding {emb_type}, b0 string, b1 string",
    )


def _band_sig_col(band: int):
    rows = _N_PLANES // _ANN_BANDS

    def dot(plane):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        return F.aggregate(
            F.zip_with(F.col("embedding"), arr, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bits = [
        F.when(dot(_PLANES[band * rows + r]) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for r in range(rows)
    ]
    return F.concat(*bits)


@register(
    "embedding_ann_lsh",
    f"""
    WITH sig AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               {_band_sig_sql(0)} AS b0,
               {_band_sig_sql(1)} AS b1
        FROM embeddings),
    buckets AS (
        SELECT vec_id, e, band, sig FROM (
            SELECT vec_id, e, 0 AS band, b0 AS sig FROM sig
            UNION ALL
            SELECT vec_id, e, 1 AS band, b1 AS sig FROM sig)
        QUALIFY count(*) OVER (PARTITION BY band, sig) <= {_BUCKET_CAP}),
    q AS (SELECT vec_id AS qid, e AS qe, band, sig FROM buckets
          WHERE qid % {_QUERY_STRIDE} = 0),
    cand AS (
        SELECT DISTINCT q.qid, b.vec_id AS nid, q.qe, b.e
        FROM q JOIN buckets b ON q.band = b.band AND q.sig = b.sig
        WHERE b.vec_id <> q.qid)
    SELECT qid, nid, rank FROM (
        SELECT qid, nid,
               row_number() OVER (
                   PARTITION BY qid
                   ORDER BY list_cosine_similarity(qe, e) DESC, nid) AS rank
        FROM cand)
    WHERE rank <= {_TOPK}
    """,
    doc=(
        "Approximate NN via random-hyperplane LSH: 8 deterministic planes in "
        "2 bands of 4 bits; candidates = same-bucket vectors in any band "
        "(bucket join, never all-pairs), hot buckets above the cap skipped "
        "(skew guard), exact cosine re-rank of candidates only. The scale "
        "path for similarity search: per-query work ∝ bucket size, not N."
    ),
    tags=("llm", "similarity"),
)
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Same restructure as dedup_embedding_neardup (see its comment):
    # band signatures in one projection, then cap + candidate scoring
    # as one numpy matmul per bounded bucket — replaces the duplicated
    # signature subtree, the count window, the query-bucket join and
    # the 3 interpreted HOF dot products per candidate. Duplicate
    # candidates from the two bands collapse via max(sim) (the old
    # shape computed bit-identical sims per band and used DISTINCT).
    # Verified: (qid, nid, rank) identical to the join+HOF form at
    # sf0.001/0.01/0.1.
    import numpy as np

    t = _t(spark, sf_dir)
    emb = t["embeddings"].select("vec_id", "embedding")
    sig = _band_sigs_np(emb)
    bands = sig.selectExpr(
        "vec_id",
        "embedding",
        "explode(array(named_struct('band', 0, 'sig', b0), "
        "named_struct('band', 1, 'sig', b1))) AS bs",
    ).select("vec_id", "embedding", "bs.band", "bs.sig")

    def bucket_cands(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"qid": pd.Series(dtype="int64"), "nid": pd.Series(dtype="int64"),
             "sim": pd.Series(dtype="float64")}
        )
        if len(pdf) > _BUCKET_CAP:
            return empty
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        qmask = ids % _QUERY_STRIDE == 0
        if not qmask.any():
            return empty
        mat = np.array(list(pdf["embedding"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        unit = mat / norms[:, None]
        sims = unit[qmask] @ unit.T  # (nq, n)
        qids = np.repeat(ids[qmask], len(ids))
        nids = np.tile(ids, int(qmask.sum()))
        flat = sims.ravel()
        keep = qids != nids
        return pd.DataFrame({"qid": qids[keep], "nid": nids[keep], "sim": flat[keep]})

    cand = (
        bands.groupBy("band", "sig")
        .applyInPandas(bucket_cands, schema="qid long, nid long, sim double")
        .groupBy("qid", "nid")
        .agg(F.max("sim").alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "nid")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("qid", "nid", "rank")
    )


# IVF (inverted-file) ANN: the cluster-routed scale path. Real deployments
# train centroids with k-means; here centroid CHOICE is a deterministic
# sample (vec_id % _IVF_STRIDE == 0, lowest _IVF_MAX_C ids) so the Spark
# plan and the DuckDB oracle agree bit-for-bit, while the PLAN is the
# real IVF shape: assign every vector to its nearest centroid once
# (map-side agg under a broadcast of the centroid set), route each query
# to its _IVF_PROBE nearest centroids, and search only those clusters —
# a join keyed on cluster id instead of an all-pairs scan. At 100 TB the
# cluster-id join is the whole point: per-query work is bounded by
# probed-cluster volume. The CAP is load-bearing: proper IVF keeps C
# fixed (trained k), and a C that grows with N makes the assignment step
# O(N*C) = O(N^2/stride) — the r9 sf10 probe measured exactly that
# (813s, scaling exponent 1.4/decade) before the cap.
_IVF_STRIDE = 100
_IVF_MAX_C = 64
_IVF_PROBE = 2
_IVF_TOPK = 5


@register(
    "embedding_ann_ivf",
    f"""
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
               FROM embeddings WHERE vec_id % {_IVF_STRIDE} = 0
               ORDER BY vec_id LIMIT {_IVF_MAX_C}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    assign AS (
      SELECT vec_id, e, cid FROM (
        SELECT v.vec_id, v.e, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cid) AS rn
        FROM v, c) WHERE rn = 1),
    probes AS (
      SELECT qid, qe, cid FROM (
        SELECT v.vec_id AS qid, v.e AS qe, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.cid) AS rn
        FROM v, c WHERE v.vec_id % {_QUERY_STRIDE} = 0) WHERE rn <= {_IVF_PROBE}),
    cand AS (
      SELECT p.qid, a.vec_id AS nid, list_cosine_similarity(p.qe, a.e) AS sim
      FROM probes p JOIN assign a USING (cid)
      WHERE a.vec_id <> p.qid)
    SELECT qid, nid, rank FROM (
      SELECT qid, nid,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
      FROM cand)
    WHERE rank <= {_IVF_TOPK}
    """,
    doc=(
        "IVF ANN over the embedding column: nearest-centroid assignment via "
        "broadcast + map-side max_by (shuffle volume N, never N x C), query "
        "routing to the 2 nearest centroids, candidate search as a join on "
        "cluster id, per-query top-k under the total order (sim DESC, nid)."
    ),
    tags=("llm", "similarity", "ann"),
)
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir)

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
        )

    # cos(a,b) = dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))). The norm
    # factors depend on ONE side only, so they are projected once per
    # vector / per centroid instead of re-folded per (vector x centroid)
    # pair — the N*C assignment stage pays 1 interpreted fold per pair
    # instead of 3 (guide §1.2 "per-task work"). Same expression tree,
    # same operand order => bit-identical doubles, so every row_number
    # ordering below is unchanged.
    emb = t["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    emb = emb.withColumn("en", F.sqrt(dot(F.col("e"), F.col("e"))))
    cent = (
        emb.filter(F.col("vec_id") % _IVF_STRIDE == 0)
        .orderBy("vec_id")
        .limit(_IVF_MAX_C)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"),
                F.col("en").alias("cn"))
    )

    def cos_pre(a, b, na, nb):
        return dot(a, b) / (na * nb)

    # Assignment: every (vector x centroid) pair exists only inside the
    # broadcast-join partition, and max_by combines map-side — the shuffle
    # carries ONE row per vector. Tie-break (sim DESC, cid ASC) is encoded
    # as lexicographic max over struct(sim, -cid).
    csim = cos_pre(F.col("e"), F.col("ce"), F.col("en"), F.col("cn"))
    assign = (
        emb.join(F.broadcast(cent))
        .select("vec_id", "e", "en", "cid", csim.alias("csim"))
        .groupBy("vec_id")
        .agg(
            F.max_by("cid", F.struct(F.col("csim"), (-F.col("cid")).alias("nc"))).alias("cid"),
            F.first("e").alias("e"),
            F.first("en").alias("en"),
        )
    )
    # Query routing: Q is tiny relative to N by construction; a window
    # rank over Q x C rows is fine at any scale where Q stays bounded.
    qw = Window.partitionBy("qid").orderBy(F.desc("csim"), "cid")
    probes = (
        emb.filter(F.col("vec_id") % _QUERY_STRIDE == 0)
        .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                F.col("en").alias("qn"))
        .join(F.broadcast(cent))
        .select("qid", "qe", "qn", "cid",
                cos_pre(F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")).alias("csim"))
        .withColumn("rn", F.row_number().over(qw))
        .filter(F.col("rn") <= _IVF_PROBE)
        .select("qid", "qe", "qn", "cid")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "nid")
    return (
        probes.join(assign, "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            cos_pre(F.col("qe"), F.col("e"), F.col("qn"), F.col("en")).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select("qid", "nid", "rank")
    )


# Embedding-cosine near-dup: the embedding-space member of the dedup
# family (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding).
# Same LSH blocking as embedding_ann_lsh — candidates share a band
# signature — then an exact-cosine verify. The THRESHOLD is part of the
# operator contract, so the oracle applies the identical blocking; a
# pair the banding misses is (by definition) not a near-dup candidate.
_NEARDUP_SIM = 0.3


@register(
    "dedup_embedding_neardup",
    f"""
    WITH sig AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               {_band_sig_sql(0)} AS b0,
               {_band_sig_sql(1)} AS b1
        FROM embeddings),
    buckets AS (
        SELECT vec_id, e, band, sig FROM (
            SELECT vec_id, e, 0 AS band, b0 AS sig FROM sig
            UNION ALL
            SELECT vec_id, e, 1 AS band, b1 AS sig FROM sig)
        QUALIFY count(*) OVER (PARTITION BY band, sig) <= {_BUCKET_CAP}),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.e AS ea, b.e AS eb
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b FROM cand
    WHERE list_cosine_similarity(ea, eb) >= {_NEARDUP_SIM}
    """,
    doc=(
        "Embedding-cosine near-duplicate pairs: LSH band blocking (bucket "
        "equi-join, never all-pairs), exact cosine verify on candidates "
        "only. Emits id pairs (a < b) — the dedup decision input."
    ),
    tags=("llm", "dedup", "similarity"),
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Band signatures in ONE projection (the previous union-of-bands
    # shape planned the 8-HOF-dot signature subtree twice, and the
    # bucket SELF-join planned it twice more), then the whole
    # cap + pair expansion + exact-cosine verify runs as one numpy
    # matmul per bucket (guide §4.2): the signature space is 2 bands x
    # 2^4 sigs, so applyInPandas sees at most 32 bounded groups (cap
    # 200 -> a 200x200 gram matrix at worst) — no count window, no
    # self-join, no 3 interpreted HOF dot products per candidate pair.
    # The sign bits stay JVM-side (fold order = the oracle contract).
    # Verified: output pairs identical to the join+HOF form at
    # sf0.001/0.01/0.1.
    import numpy as np

    t = _t(spark, sf_dir)
    emb = t["embeddings"].select("vec_id", "embedding")
    sig = _band_sigs_np(emb)
    bands = sig.selectExpr(
        "vec_id",
        "embedding",
        "explode(array(named_struct('band', 0, 'sig', b0), "
        "named_struct('band', 1, 'sig', b1))) AS bs",
    ).select("vec_id", "embedding", "bs.band", "bs.sig")

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                              "vec_b": pd.Series(dtype="int64")})
        if len(pdf) > _BUCKET_CAP or len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["embedding"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        sims = (mat / norms[:, None]) @ (mat / norms[:, None]).T
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = sims[ia, ib] >= _NEARDUP_SIM
        if not keep.any():
            return empty
        return pd.DataFrame({"vec_a": ids[ia[keep]], "vec_b": ids[ib[keep]]})

    return (
        bands.groupBy("band", "sig")
        .applyInPandas(bucket_pairs, schema="vec_a long, vec_b long")
        .distinct()
    )


def get_llm_registry():  # imported for side effects by queries.get_registry
    return None


# ---------------------------------------------------------------------------
# Training-data hygiene: PII redaction, benchmark contamination, chunking,
# repetition scoring. All JVM-side (regexp/array built-ins, whole-stage
# codegen) — no Python in the hot path.
# ---------------------------------------------------------------------------

# RE2-and-Java-compatible patterns (both engines): no backrefs, no
# lookaround, explicit character classes.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"

# The synthetic corpus carries no PII, so both engines plant the SAME
# deterministic PII per doc before redacting — the gate then proves the
# scrubber itself, not the corpus.
_PII_SALT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17'"
    " || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'"
)


@register(
    "text_pii_redact",
    f"""
    WITH salted AS (SELECT doc_id, {_PII_SALT_SQL} AS raw FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(raw, '{_PII_IP}')) AS n_ips,
           len(regexp_extract_all(raw, '{_PII_PHONE}')) AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(raw,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IP}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g')) AS redacted_hash
    FROM salted
    """,
    doc=(
        "PII scrubbing for training corpora: emails, IPv4s, and phone "
        "numbers detected + replaced with typed placeholder tokens, in "
        "one codegen'd regexp pass per category (Java regex and RE2 "
        "agree on these patterns, proven by the cross-engine hash of "
        "the redacted text). Counts per category ride along for "
        "redaction-rate monitoring. Stateless row-local map: scales "
        "linearly, no shuffle."
    ),
    tags=("llm", "text", "hygiene"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    salted = t["documents"].select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com"),
            F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".17"),
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-0199"),
        ).alias("raw"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return salted.select(
        "doc_id",
        F.regexp_count(F.col("raw"), F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(F.col("raw"), F.lit(_PII_IP)).alias("n_ips"),
        F.regexp_count(F.col("raw"), F.lit(_PII_PHONE)).alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
    )


_BENCH_MOD = 97  # doc_id % 97 == 0 plays the held-out benchmark set
_CONTAM_N = 3    # gram width (a knob: real corpora use 8-13)
_CONTAM_MIN = 3  # shared distinct grams to flag


@register(
    "text_contamination_ngram",
    f"""
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
               FROM documents),
    g5 AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+{_CONTAM_N - 1}], ' ') AS gram
           FROM w, UNNEST(range(1, len(ws) - {_CONTAM_N - 2})) AS t(i)
           WHERE len(ws) >= {_CONTAM_N}),
    bench AS (SELECT DISTINCT gram FROM g5 WHERE doc_id % {_BENCH_MOD} = 0)
    SELECT doc_id, count(*) AS n_shared,
           count(*) >= {_CONTAM_MIN} AS contaminated
    FROM g5 JOIN bench USING (gram)
    WHERE doc_id % {_BENCH_MOD} <> 0
    GROUP BY doc_id
    """,
    doc=(
        "Benchmark-contamination check: corpus documents sharing word "
        f"{_CONTAM_N}-grams with a held-out benchmark set (here doc_id % "
        f"{_BENCH_MOD} = 0) are flagged when >= {_CONTAM_MIN} distinct "
        "grams overlap — the standard n-gram decontamination pass run "
        "before training. Shuffle-on-gram join; the benchmark gram set "
        "is tiny relative to the corpus, so Spark broadcasts it and the "
        "corpus side streams map-side — at 100 TB the pass stays one "
        "scan plus a broadcast."
    ),
    tags=("llm", "text", "hygiene"),
)
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    grams = _doc_grams(t["documents"], n=_CONTAM_N)
    bench = (
        grams.filter(F.col("doc_id") % _BENCH_MOD == 0).select("gram").distinct()
    )
    return (
        grams.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(
            "doc_id",
            "n_shared",
            (F.col("n_shared") >= _CONTAM_MIN).alias("contaminated"),
        )
    )


_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24


@register(
    "text_chunk_windows",
    f"""
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
               FROM documents)
    SELECT doc_id,
           CAST(s / {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           len(ws[s + 1:s + {_CHUNK_SIZE}]) AS n_words,
           md5(array_to_string(ws[s + 1:s + {_CHUNK_SIZE}], ' ')) AS chunk_hash
    FROM w, UNNEST(range(0, greatest(len(ws), 1), {_CHUNK_STRIDE})) AS t(s)
    """,
    doc=(
        f"Context-window chunking: overlapping {_CHUNK_SIZE}-word windows "
        f"with stride {_CHUNK_STRIDE} (the sliding-window split every "
        "sequence-packing pipeline runs before tokenization). Pure "
        "array built-ins (sequence/slice/posexplode) — codegen'd, "
        "stateless, no shuffle; chunk text hashed for cross-engine "
        "value stability."
    ),
    tags=("llm", "text"),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    ws = _words(F.col("text"))
    n = F.size(ws)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(_CHUNK_STRIDE))
    chunk = F.slice(F.col("ws"), F.col("s") + 1, _CHUNK_SIZE)
    return (
        t["documents"]
        .select("doc_id", ws.alias("ws"), F.explode(starts).alias("s"))
        .select(
            "doc_id",
            (F.col("s") / _CHUNK_STRIDE).cast("long").alias("chunk_idx"),
            F.size(chunk).alias("n_words"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
    )


@register(
    "text_repetition_score",
    """
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
               FROM documents),
    g AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
          FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
          WHERE len(ws) >= 3)
    SELECT doc_id, count(*) AS n_grams,
           count(DISTINCT gram) AS n_distinct,
           round(1 - count(DISTINCT gram) * 1.0 / count(*), 4) AS rep_ratio
    FROM g GROUP BY doc_id
    """,
    doc=(
        "Repetition scoring: 1 - (distinct 3-grams / total 3-grams) per "
        "document — the duplicate-phrase quality signal used to drop "
        "boilerplate/spam before training. One explode + one "
        "grouBy(doc_id) shuffle; partial aggregation makes the shuffle "
        "carry per-doc partial counts only."
    ),
    tags=("llm", "text", "quality"),
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir)
    grams = _doc_grams(t["documents"], n=3, distinct=False)
    ratio = 1 - F.countDistinct("gram") / F.count(F.lit(1))
    return grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("gram").alias("n_distinct"),
        F.round(ratio, 4).alias("rep_ratio"),
    )


@register(
    "dedup_incremental_batch",
    """
    WITH corpus AS (
        SELECT md5(text) AS h FROM documents WHERE doc_id % 10 < 8),
    incoming AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 >= 8),
    fresh AS (
        SELECT i.doc_id, i.h FROM incoming i
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = i.h))
    SELECT doc_id, h AS text_hash,
           row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1 AS keep
    FROM fresh
    """,
    doc=(
        "INCREMENTAL ingestion dedup — the form production pipelines "
        "actually run: the incoming batch (here the last 20% of doc_ids) "
        "is deduped against the established corpus by content hash "
        "(anti-join; at 100 TB the corpus side is a bucketed hash index "
        "or bloom probe, the batch side streams), then within itself "
        "(first-arrival wins under a deterministic order). Batch-sized "
        "work against corpus-sized state — never a full-corpus self-join."
    ),
    tags=("llm", "dedup", "incremental"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir)
    docs = t["documents"]
    corpus = docs.filter(F.col("doc_id") % 10 < 8).select(F.md5("text").alias("h"))
    incoming = docs.filter(F.col("doc_id") % 10 >= 8).select(
        "doc_id", F.md5("text").alias("h")
    )
    fresh = incoming.join(corpus, "h", "left_anti")
    w = Window.partitionBy("h").orderBy("doc_id")
    return fresh.select(
        "doc_id",
        F.col("h").alias("text_hash"),
        (F.row_number().over(w) == 1).alias("keep"),
    )


@register(
    "text_unigram_logprob",
    """
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        FROM documents),
    vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    tot AS (SELECT sum(cnt) AS total FROM vocab)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(sum(ln(cnt * 1.0 / total)) / count(*), 4) AS avg_logprob
    FROM toks JOIN vocab USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc=(
        "Unigram language-model scoring: each document's mean token "
        "log-probability under the corpus's own unigram distribution — "
        "the classic cheap perplexity proxy for quality filtering "
        "(low avg_logprob = rare-token soup, boilerplate, or noise). "
        "ONE explode pass at scale: the exploded instances collapse "
        "FIRST into per-(doc, token) partial counts (a hash aggregate — "
        "map-side partials absorb hot tokens), and the corpus-wide "
        "token count is a sum() window over the token partition of that "
        "bounded frame: the hot partition holds at most one row per "
        "document, never every raw occurrence of a stop word (a count() "
        "window over the raw instances put ~5% of a real corpus into "
        "ONE un-splittable window task — Zipf skew, guide §2.5; the "
        "join-back-a-vocab-aggregate spelling before that planned the "
        "explode subtree three times and broadcast a vocabulary-sized "
        "relation). The corpus total is the sum of per-doc word-array "
        "sizes straight off the documents scan — no explode, "
        "integer-exact equal to the vocabulary sum."
    ),
    tags=("llm", "text"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir)
    words = _words(F.lower(F.col("text")))
    toks = t["documents"].select("doc_id", F.explode(words).alias("tok"))
    # per-(doc, token) occurrence counts: partial aggregation collapses
    # a hot token's instances per map task, so no single shuffle
    # partition ever carries the raw Zipf mass
    dt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    cnts = dt.withColumn("cnt", F.sum("tf").over(Window.partitionBy("tok")))
    tot = t["documents"].agg(F.sum(F.size(words)).alias("total"))
    return (
        cnts.crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * F.log(F.col("cnt") / F.col("total")))
                / F.sum("tf"),
                4,
            ).alias("avg_logprob"),
        )
    )


@register(
    "text_tfidf_topterms",
    """
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, tok, tf.tf, df.df,
               round(tf.tf * ln(n_docs * 1.0 / df.df), 4) AS tfidf,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY tf.tf DESC, df.df ASC, tok ASC
               ) AS rnk
        FROM tf JOIN df USING (tok) CROSS JOIN nd)
    SELECT doc_id, rnk, tok, tf, df, tfidf
    FROM scored WHERE rnk <= 3
    """,
    doc=(
        "Per-document keyword extraction: top-3 terms ranked by "
        "(term frequency DESC, document frequency ASC, term ASC) — an "
        "integer-only ordering, so ranks are bit-identical across "
        "engines while the familiar TF-IDF score (tf x ln(N/df)) rides "
        "along as a value column. Scale: document frequency is a "
        "count() window over the token partition of the doc-term "
        "aggregate (tf rows are unique per (doc, term), so the count "
        "IS the distinct-doc count) — the aggregate-and-join-back "
        "spelling planned the whole doc-term subtree twice, once per "
        "join side, and broadcast a vocabulary-sized relation; the "
        "1-row corpus size stays a broadcast."
    ),
    tags=("llm", "text"),
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id", F.explode(_words(F.lower(F.col("text")))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    nd = t["documents"].agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("tok")
    )
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("tok")))
        .crossJoin(F.broadcast(nd))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "rnk",
            "tok",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4).alias(
                "tfidf"
            ),
        )
    )


@register(
    "quality_decile_binning",
    """
    WITH w AS (
        SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_words
        FROM documents),
    r AS (
        SELECT doc_id, n_words,
               row_number() OVER (ORDER BY n_words, doc_id) AS rn,
               count(*) OVER () AS n_total
        FROM w)
    SELECT doc_id, n_words,
           1 + CAST(floor(10 * (rn - 1) / n_total) AS BIGINT) AS decile
    FROM r
    """,
    doc=(
        "Curriculum/quality binning: exact corpus-wide deciles of the "
        "per-document word count, computed WITHOUT a global "
        "single-partition sort (the naive row_number() OVER (ORDER BY "
        "…) is a scale-killer at 100 TB). Two-pass rank: (1) per-value "
        "counts -> cumulative offsets via a window over the DISTINCT "
        "value domain (bounded, tiny); (2) intra-value ranks "
        "partitioned by the value (fully distributed). rank = offset + "
        "intra-rank reproduces row_number() OVER (ORDER BY n_words, "
        "doc_id) exactly — integer math end to end, so the DuckDB "
        "oracle hash-matches bit for bit."
    ),
    tags=("llm", "text", "quality"),
)
def quality_decile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = _t(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id", F.size(_words(F.col("text"))).cast("long").alias("n_words")
    )
    # Pass 1: cumulative row counts over the distinct word-count domain
    # (bounded — document lengths, not documents). The single-partition
    # window runs over that tiny table only.
    counts = docs.groupBy("n_words").agg(F.count(F.lit(1)).alias("__c"))
    wv = Window.orderBy("n_words").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "n_words",
        F.coalesce(F.sum("__c").over(wv), F.lit(0)).alias("__offset"),
    )
    n_total = docs.agg(F.count(F.lit(1)).alias("__n"))
    # Pass 2: intra-value rank partitioned by the value — distributed.
    wi = Window.partitionBy("n_words").orderBy("doc_id")
    return (
        docs.join(F.broadcast(offsets), "n_words")
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            "n_words",
            (
                1
                + F.floor(
                    10
                    * (F.col("__offset") + F.row_number().over(wi) - 1)
                    / F.col("__n")
                )
            ).alias("decile"),
        )
    )


_SPAN_W = 8  # tokens per window — the exact-substring dedup grain


@register(
    "text_dup_span_fraction",
    f"""
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
               FROM documents),
    spans AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+{_SPAN_W - 1}], ' ') AS span
              FROM w, UNNEST(range(1, len(ws) - {_SPAN_W - 2})) AS t(i)
              WHERE len(ws) >= {_SPAN_W}),
    freq AS (SELECT span, count(*) AS ndocs FROM spans GROUP BY span)
    SELECT s.doc_id,
           count(*) AS n_spans,
           round(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS dup_frac
    FROM spans s JOIN freq f ON s.span = f.span
    GROUP BY s.doc_id
    """,
    doc=(
        "Exact-substring duplication scoring (the Lee et al. 2022 "
        "'Deduplicating Training Data' signal, rolling-window form): "
        "every overlapping 8-token window is hashed corpus-wide, and a "
        "document's dup_frac is the fraction of its distinct windows "
        "that appear in at least one OTHER document — the retrain-"
        "memorization risk metric that exact-doc and near-dup dedup "
        "both miss (boilerplate headers, quoted paragraphs, licenses). "
        "Spark side: one scan-local regex pass builds the overlapping "
        "windows (no per-token explode), the corpus-wide window "
        "frequency is one hash-keyed groupBy (map-side combined), and "
        "the per-doc fraction is a second bounded aggregate — the same "
        "shuffle class as the n-gram dedup family, scan-shaped at "
        "100 TB. The suffix-array exactness of the paper trades to "
        "fixed-width windows, the standard distributed approximation."
    ),
    tags=("llm", "text", "dedup"),
)
def text_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    t = _t(spark, sf_dir)
    docs = t["documents"]
    fan = _scan_fanout(spark, _os.path.join(sf_dir, "documents.parquet"))
    if fan:
        docs = docs.repartition(fan)
    # One span pass: the previous shape planned the span pipeline twice
    # (per-span doc frequency + the re-join that attached it back to
    # every (doc, span) row, shuffling the span strings again). Instead
    # each span groups to its distinct-doc set (collect_set == the old
    # distinct + count), and the per-doc tallies come from exploding the
    # sets — doc_frequency >= 2 is just size(set) >= 2 (guide §2.4).
    sets = (
        _doc_grams(docs, n=_SPAN_W, distinct=False)
        .groupBy("gram")
        .agg(F.expr("collect_set(doc_id) AS ids"))
        .select("ids")
    )
    per = sets.select(
        F.explode("ids").alias("doc_id"),
        (F.size("ids") >= 2).cast("int").alias("dup"),
    )
    return per.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.round(F.sum("dup") / F.count(F.lit(1)), 4).alias("dup_frac"),
    )
