"""Text-analysis and dedup queries over ``documents`` (north-star).

Every oracle mirrors the Spark computation token-for-token: the same
tokenization (split on \\s+ of trimmed lowercased text), the same
md5-based hashing, the same thresholds — so value hashes must agree.
SimHash is the one rows-only entry (xxhash64 is Spark-specific).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparktrends_spark.plans.registry import query, scratch_path
from sparktrends_spark.sources.tables import load_table, scan_parallel
from sparktrends_spark.text.analysis import (
    LANG_MARKERS,
    bag_fingerprint,
    lang_guess,
    marker_hits,
    mean_token_length,
    quality_score,
    tokens,
)
from sparktrends_spark.text.dedup import (
    jaccard_pairs,
    minhash_dedup_pairs,
    shingle_sets,
    word_shingles,
    simhash_pairs,
)

_TOKS_CTE = """
toks AS (
  SELECT doc_id, lang, n_chars,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
)
"""

_SHINGLES_CTE = """
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(toks)-2, 0))]) AS sh
  FROM toks
),
sh2 AS (SELECT * FROM sh WHERE len(sh) > 0)
"""


def _docs(
    spark: SparkSession, sf_dir: str, keys: tuple[str, ...] | None = None
) -> DataFrame:
    # shingling/tokenizing is CPU-bound: make sure the scan fans out.
    # ``keys`` hash-partitions the fan-out (instead of round-robin) so
    # a downstream groupBy/window clustered on (a superset of) them
    # reuses this exchange (guide §2.4); only valid for source columns.
    return scan_parallel(load_table(spark, sf_dir, "documents"), keys=keys)


@query(
    "doc_exact_dedup",
    oracle="""
SELECT content_hash, min(doc_id) AS keep_id, count(*) AS n_docs FROM (
  SELECT doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_hash
  FROM documents
) GROUP BY content_hash
""",
)
def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by text hash (north-star): one md5 projection + one
    hash agg keeping the smallest doc_id per group.

    The hash is computed BELOW the fan-out and the fan-out is keyed on
    it, so the aggregation reuses that one exchange (guide §2.4) and
    only (doc_id, content_hash) ever crosses the wire — the text used
    to ride the round-robin exchange just to be hashed above it
    (guide §2.3, shuffle keys and metadata, not payloads). Tradeoff:
    the normalization+md5 CPU now runs on the (often narrow) scan side
    of the exchange instead of the fanned side — a measured net win at
    current cost (0.53 s -> 0.22 s), but RE-MEASURE if exact_hash ever
    grows heavier normalization (the r14 ADVICE note)."""
    from sparktrends_spark.text.dedup import exact_hash

    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", exact_hash(F.col("text")).alias("content_hash")
    )
    fanned = scan_parallel(
        hashed,
        source_path=getattr(d, "_sparktrends_scan_path", None),
        keys=("content_hash",),
    )
    return fanned.groupBy("content_hash").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "doc_token_stats",
    oracle=f"""
WITH {_TOKS_CTE.strip()}
SELECT lang, count(*) AS n_docs,
       avg(len(toks)) AS avg_tokens,
       avg(len(list_distinct(toks))) AS avg_distinct,
       avg(n_chars) AS avg_chars
FROM toks GROUP BY lang
""",
)
def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts/lengths per doc (north-star text
    analysis): pure JVM split/size/aggregate projections."""
    d = _docs(spark, sf_dir)
    # materialize the split once, derive every stat from the array
    tok = d.select("lang", "n_chars", tokens(F.col("text")).alias("_toks"))
    return (
        tok.select(
            "lang",
            "n_chars",
            F.size("_toks").alias("_n"),
            F.size(F.array_distinct("_toks")).alias("_nd"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("_n").alias("avg_tokens"),
            F.avg("_nd").alias("avg_distinct"),
            F.avg("n_chars").alias("avg_chars"),
        )
    )


@query(
    "doc_quality",
    oracle=f"""
WITH {_TOKS_CTE.strip()}
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct,
       list_sum([CAST(len(t) AS DOUBLE) for t in toks]) / len(toks) AS mean_tok_len,
       least(1.0, len(toks) / 100.0) * 0.5
         + (len(list_distinct(toks)) * 1.0 / len(toks)) * 0.5 AS quality
FROM toks
""",
)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scores (length, distinct-token ratio, mean
    word length) — C4/Gopher-style filters, all built-ins."""
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", tokens(F.col("text")).alias("_toks"))
    t = F.col("_toks")
    return tok.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
        mean_token_length(t).alias("mean_tok_len"),
        quality_score(t).alias("quality"),
    )


@query(
    "doc_unigram_perplexity",
    oracle=f"""
WITH {_TOKS_CTE.strip()},
t AS (SELECT doc_id, unnest(toks) AS term FROM toks),
tf AS (SELECT term, count(*) AS c FROM t GROUP BY term),
n AS (SELECT count(*) AS n_total FROM t),
scored AS (
  SELECT doc_id, -ln(c * 1.0 / n_total) AS lp
  FROM t JOIN tf USING (term) CROSS JOIN n
)
SELECT doc_id,
       count(*) AS n_tokens,
       round(avg(lp), 6) AS avg_neg_logprob,
       round(exp(avg(lp)), 4) AS perplexity
FROM scored GROUP BY doc_id
""",
)
def q_doc_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity per document (CCNet-style quality signal,
    north-star): train token frequencies on the corpus itself, score
    each doc by the mean negative log-probability of its tokens —
    boilerplate/repetitive docs score low, rare-token soup scores high.

    Plan: one explode, one term-count agg, a shuffle join of tokens to
    term frequencies (vocabulary-keyed — the vocabulary grows slowly
    with corpus size, no skew beyond natural Zipf, which AQE handles),
    one per-doc agg. The corpus-total count is a broadcast single row.
    At 100 TB the trained table is exactly what a real KenLM step
    would snapshot; here train+score fuse into one plan. Rounded
    before comparison so engines agree to fixed precision."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", tokens(F.col("text")).alias("_toks"))
    terms = toks.select("doc_id", F.explode("_toks").alias("term"))
    tf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    n = terms.agg(F.count(F.lit(1)).alias("n_total"))
    scored = (
        terms.join(tf, "term")
        .join(n)
        .withColumn("lp", -F.log(F.col("c") / F.col("n_total")))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("avg_neg_logprob"),
        F.round(F.exp(F.avg("lp")), 4).alias("perplexity"),
    )


def _lang_oracle() -> str:
    hit_exprs = []
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        hit_exprs.append(
            f"len(list_filter(toks, t -> list_contains([{lst}], t))) AS {lang}_hits"
        )
    hits_sql = ",\n       ".join(hit_exprs)
    langs = list(LANG_MARKERS)
    best = f"greatest({', '.join(f'{l}_hits' for l in langs)})"
    cases = "\n         ".join(
        f"WHEN {l}_hits > 0 AND {l}_hits = {best} THEN '{l}'" for l in langs
    )
    return f"""
WITH {_TOKS_CTE.strip()},
hits AS (
  SELECT doc_id, lang,
       {hits_sql}
  FROM toks
)
SELECT doc_id, lang, en_hits, es_hits, de_hits, fr_hits,
       CASE {cases}
         ELSE 'und' END AS lang_guess
FROM hits
"""


@query("doc_lang_id", oracle=_lang_oracle())
def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language ID vs the labeled lang column:
    stopword-marker hit scoring per language, argmax per doc."""
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", "lang", tokens(F.col("text")).alias("_toks"))
    t = F.col("_toks")
    cols = [
        marker_hits(t, m).alias(f"{lang}_hits") for lang, m in LANG_MARKERS.items()
    ]
    return tok.select("doc_id", "lang", *cols, lang_guess(t).alias("lang_guess"))


@query(
    "doc_fingerprint",
    oracle=f"""
WITH {_TOKS_CTE.strip()}
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint,
       len(list_distinct(toks)) AS n_distinct
FROM toks
""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint (md5 over the sorted distinct
    token bag) — the join key for cross-corpus exact matching."""
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", tokens(F.col("text")).alias("_toks"))
    t = F.col("_toks")
    return tok.select(
        "doc_id",
        bag_fingerprint(t).alias("fingerprint"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
    )


@query(
    "doc_ngram_jaccard",
    oracle=f"""
WITH {_TOKS_CTE.strip()}, {_SHINGLES_CTE.strip()},
e AS (SELECT doc_id, unnest(sh) AS s FROM sh2),
counts AS (SELECT s, count(*) AS bn FROM e GROUP BY s),
eb AS (SELECT e.doc_id, e.s FROM e JOIN counts ON e.s = counts.s WHERE bn <= 1000),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM eb a JOIN eb b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(sh) AS n FROM sh2)
SELECT doc_a, doc_b,
       inter * 1.0 / (sa.n + sb.n - inter) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.2
""",
)
def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.2)."""
    shingled = shingle_sets(_docs(spark, sf_dir))
    return jaccard_pairs(shingled, threshold=0.2)


def _minhash_sig_sql() -> str:
    from sparktrends_spark.text.dedup import MINHASH_PRIME, minhash_coeffs

    perms = ", ".join(
        f"list_min([(h * {a} + {b}) % {MINHASH_PRIME} for h in hs])"
        for a, b in minhash_coeffs(16)
    )
    return f"""
hashes AS (
  SELECT doc_id, sh,
         [CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % {MINHASH_PRIME}
          for s in sh] AS hs
  FROM sh2
),
sigs AS (
  SELECT doc_id, [{perms}] AS sig FROM hashes
)"""


def _minhash_with() -> str:
    """Shared WITH-chain for MinHash-LSH oracles: tokenize -> shingle
    -> sign -> band -> candidate pairs -> exact-Jaccard verify."""
    return f"""
WITH {_TOKS_CTE.strip()}, {_SHINGLES_CTE.strip()},
{_minhash_sig_sql().strip()},
bands AS (
  SELECT doc_id, b,
         md5(array_to_string([CAST(x AS VARCHAR) for x in sig[b*4+1:b*4+4]], '|')) AS bh
  FROM sigs, unnest([0, 1, 2, 3]) AS t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
),
verified AS (
  SELECT doc_a, doc_b,
         len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) * 1.0
           / (len(sa.sh) + len(sb.sh)
              - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) AS jaccard
  FROM cand
  JOIN sh2 sa ON doc_a = sa.doc_id
  JOIN sh2 sb ON doc_b = sb.doc_id
)"""


@query(
    "doc_minhash_pairs",
    oracle=_minhash_with() + """
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.5
""",
)
def q_doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dedup (16 perms, 4 bands x 4 rows, verify >=0.5).

    The DuckDB oracle executes the *identical* md5-permutation MinHash,
    so even the probabilistic candidate generation matches exactly.
    """
    return minhash_dedup_pairs(_docs(spark, sf_dir))


# Not a registered query: xxhash64 has no DuckDB equivalent, so the
# 64-bit sketch could only carry a rows-only check. The graded SimHash
# surface is doc_simhash32_pairs (identical banding/verify shape, full
# value-level oracle); the faster 64-bit sketch stays a library
# operator covered by test_text_dedup.test_simhash_pairs_on_testdata's
# recall floor against exact Jaccard ground truth.
def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(_docs(spark, sf_dir))


@query(
    "doc_bpe_tokens",
    oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{{BPE_RE}}')) AS n_bpe_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+')) AS n_word_tokens,
       len(regexp_extract_all(lower(text), '[^a-z0-9\\s]+')) AS n_punct_runs
FROM documents
""".replace("{BPE_RE}", "[a-z]+|[0-9]+|[^a-z0-9\\s]+"),
)
def q_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (north-star): GPT-2-style pre-token runs
    next to plain word/punctuation counts — all regexp_extract_all,
    JVM-side, no UDF."""
    from sparktrends_spark.text.analysis import BPE_PRETOKEN_RE

    d = _docs(spark, sf_dir)
    low = F.lower(F.col("text"))
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(low, F.lit(BPE_PRETOKEN_RE), 0)).alias(
            "n_bpe_tokens"
        ),
        F.size(F.regexp_extract_all(low, F.lit("[a-z]+"), 0)).alias(
            "n_word_tokens"
        ),
        F.size(F.regexp_extract_all(low, F.lit("[^a-z0-9\\s]+"), 0)).alias(
            "n_punct_runs"
        ),
    )


@query(
    "doc_rolling_fingerprint",
    oracle="""
SELECT doc_id,
       array_to_string(
         list_sort([md5(substr(text, i, 8))
                    for i in range(1, greatest(len(text) - 7, 1) + 1)])[1:4],
         '|') AS fingerprint,
       greatest(len(text) - 7, 1) AS n_windows
FROM documents
""",
)
def q_doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (north-star): bottom-4 sketch
    of md5 over all 8-char windows (winnowing-style). Pure projection —
    no shuffle; fingerprint equality/overlap is the near-dup signal."""
    from sparktrends_spark.text.analysis import rolling_hash_fingerprint

    d = _docs(spark, sf_dir)
    win = F.greatest(F.length("text") - 7, F.lit(1))
    return d.select(
        "doc_id",
        rolling_hash_fingerprint(F.col("text"), k=8, keep=4).alias("fingerprint"),
        win.cast("bigint").alias("n_windows"),
    )


@query(
    "doc_train_test_split",
    oracle="""
WITH assigned AS (
  SELECT lang,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
              THEN 'train' ELSE 'test' END AS split
  FROM documents
)
SELECT lang, split, count(*) AS n_docs
FROM assigned GROUP BY lang, split
""",
)
def q_doc_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train-test split by content-free hash of the
    id (north-star): stable under re-runs, re-partitioning, and engine
    choice — never ``rand()``, which breaks lineage reproducibility.
    Pure projection + one agg shuffle."""
    d = _docs(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = F.when(bucket < 90, F.lit("train")).otherwise(F.lit("test"))
    return (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "corpus_selection",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, text,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
  FROM documents
),
scored AS (
  SELECT doc_id, lang, text,
         least(1.0, len(tk) / 100.0) * 0.5
           + (len(list_distinct(tk)) * 1.0 / len(tk)) * 0.5 AS quality,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_hash
  FROM toks
),
kept AS (
  SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
  FROM scored WHERE quality >= 0.6 AND lang IN ('en', 'es')
)
SELECT lang, count(*) AS n_docs, round(avg(quality), 6) AS avg_quality
FROM kept WHERE rn = 1
GROUP BY lang
""",
)
def q_corpus_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus selection composite (north-star):
    quality-score filter -> language allowlist -> exact dedup keeping
    the lowest doc_id per content hash -> per-language stats. The shape
    of a real 100 TB pretraining filter pass: projection-only scoring,
    one dedup shuffle on content hash, one agg."""
    from sparktrends_spark.operators.topk import top_k_per_group
    from sparktrends_spark.text.dedup import exact_hash

    # Score + hash BEFORE the fan-out exchange, and key the fan-out on
    # content_hash: the dedup window downstream clusters on the same
    # column, so it reuses this shuffle (guide §2.4) — and the exchange
    # carries (doc_id, lang, quality, content_hash), never the text.
    # The quality/lang filter still pushes below the exchange into the
    # scan (fewer rows shuffled, guide §2.3).
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", "text", tokens(F.col("text")).alias("_toks")
    )
    scored = tok.select(
        "doc_id",
        "lang",
        quality_score(F.col("_toks")).alias("quality"),
        exact_hash(F.col("text")).alias("content_hash"),
    ).filter((F.col("quality") >= 0.6) & F.col("lang").isin("en", "es"))
    fanned = scan_parallel(
        scored,
        source_path=getattr(d, "_sparktrends_scan_path", None),
        keys=("content_hash",),
    )
    kept = top_k_per_group(fanned, ["content_hash"], [F.asc("doc_id")], k=1)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


_CHUNK = 32

_CHUNKS_ORACLE = f"""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
x AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / {_CHUNK}.0) AS BIGINT))) AS chunk_id
  FROM s
)
SELECT doc_id, chunk_id,
       CAST(len(list_slice(toks, chunk_id * {_CHUNK} + 1,
                           chunk_id * {_CHUNK} + {_CHUNK})) AS INT) AS n_words,
       array_to_string(list_slice(toks, chunk_id * {_CHUNK} + 1,
                                  chunk_id * {_CHUNK} + {_CHUNK}), ' ') AS chunk
FROM x
"""


@query("doc_word_chunks", oracle=_CHUNKS_ORACLE)
def q_doc_word_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size word chunking via built-in expressions (split +
    sequence + slice): pure JVM, whole-stage codegen, no shuffle — the
    100 TB hot path, and therefore the graded/benched surface."""
    from sparktrends_spark.text.chunking import chunk_documents_builtin

    return chunk_documents_builtin(_docs(spark, sf_dir), _CHUNK)


@query("doc_word_chunks_udtf", oracle=_CHUNKS_ORACLE)
def q_doc_word_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same chunking through a Python UDTF + lateral join — the
    §2.11 table-function surface (reference has none), graded against
    the identical oracle as the builtin twin. Arrow-batched execution
    (forced in chunk_documents_udtf); UDTFs are the per-row fan-out
    escape hatch when chunk logic outgrows SQL."""
    from sparktrends_spark.text.chunking import chunk_documents_udtf

    return chunk_documents_udtf(_docs(spark, sf_dir), _CHUNK)


def _simhash32_oracle() -> str:
    bit_sums = (
        "[list_sum([CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END for h in hs])"
        " for i in range(0, 32)]"
    )
    return f"""
WITH {_TOKS_CTE.strip()}, {_SHINGLES_CTE.strip()},
hashes AS (
  SELECT doc_id,
         [CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) for s in sh] AS hs
  FROM sh2
),
sums AS (SELECT doc_id, {bit_sums} AS bs FROM hashes),
sh32 AS (
  SELECT doc_id,
         list_sum([CASE WHEN bs[i + 1] > 0 THEN 1 << i ELSE 0 END
                   for i in range(0, 32)]) AS h
  FROM sums
),
banded AS (
  SELECT doc_id, h, b, (h >> (b * 8)) & 255 AS block
  FROM sh32, unnest([0, 1, 2, 3]) AS t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b, a.h AS h_a, c.h AS h_b
  FROM banded a JOIN banded c
    ON a.b = c.b AND a.block = c.block AND a.doc_id < c.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(h_a, h_b)) AS hamming
FROM cand WHERE bit_count(xor(h_a, h_b)) <= 6
"""


@query("doc_simhash32_pairs", oracle=_simhash32_oracle())
def q_doc_simhash32_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable 32-bit md5 SimHash near-dup pairs — the graded SimHash
    surface (the faster xxhash64 64-bit sketch is the library operator
    ``simhash_pairs``, recall-tested locally; it has no DuckDB-portable
    hash so it cannot carry a value-level oracle)."""
    from sparktrends_spark.text.dedup import simhash32_pairs

    return simhash32_pairs(_docs(spark, sf_dir))


@query(
    "doc_minhash_dedup_keep",
    oracle=_minhash_with()
    + """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_b FROM verified WHERE jaccard >= 0.5)
""",
)
def q_doc_minhash_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus a training pipeline actually keeps: greedy near-dup
    removal — any doc whose MinHash-verified Jaccard >= 0.5 against a
    smaller-id doc is dropped (the smaller id survives as the cluster
    representative). One anti join over the pairs frame; no iterative
    connected components needed for the keep-lowest-id policy on
    pairwise-ordered pairs."""
    d = _docs(spark, sf_dir)
    pairs = minhash_dedup_pairs(d)
    drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return d.join(drop, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "doc_pattern_stats",
    oracle="""
SELECT doc_id,
       regexp_extract(text, '([A-Za-z]+)ing', 1)          AS first_ing,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers,
       CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT)  AS n_sentences
FROM documents
""",
)
def q_doc_pattern_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp-function surface (SURVEY §2.9 absent): group extraction
    and pattern counting per document, ASCII-only patterns so the Java
    and RE2 dialects agree."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([A-Za-z]+)ing", 1).alias("first_ing"),
        F.regexp_count("text", F.lit(r"[0-9]+")).cast("long").alias("n_numbers"),
        F.regexp_count("text", F.lit(r"[.!?]")).cast("long").alias("n_sentences"),
    )


_JACCARD_EDGES_CTES = """
e AS (SELECT doc_id, unnest(sh) AS s FROM sh2),
counts AS (SELECT s, count(*) AS bn FROM e GROUP BY s),
eb AS (SELECT e.doc_id, e.s FROM e JOIN counts ON e.s = counts.s WHERE bn <= 1000),
jp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM eb a JOIN eb b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(sh) AS n FROM sh2),
good AS (
  SELECT doc_a, doc_b FROM jp
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.2
)
"""


@query(
    "doc_dedup_components",
    oracle=f"""
WITH RECURSIVE {_TOKS_CTE.strip()}, {_SHINGLES_CTE.strip()},
{_JACCARD_EDGES_CTES.strip()},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM good
  UNION
  SELECT doc_b, doc_a FROM good
),
reach(node, label) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT ed.u, r.label FROM edges ed JOIN reach r ON r.node = ed.v
),
comp AS (SELECT node, min(label) AS component_id FROM reach GROUP BY node),
csz AS (SELECT component_id, count(*) AS cluster_size FROM comp GROUP BY component_id)
SELECT comp.node AS doc_id, comp.component_id, csz.cluster_size,
       comp.node = comp.component_id AS is_canonical
FROM comp JOIN csz USING (component_id)
""",
)
def q_doc_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the 3-gram Jaccard near-dup pairs
    (threshold 0.2) into dedup clusters: component id = min doc_id,
    plus cluster size and the keep/delete flag. Spark side is the
    iterative min-label propagation in ``operators/components.py``
    (O(diameter) rounds, all-distributed); the oracle states the same
    fixpoint declaratively as a recursive CTE — two very different
    evaluation strategies that must agree bit-for-bit."""
    from sparktrends_spark.operators.components import dedup_clusters

    shingled = shingle_sets(_docs(spark, sf_dir))
    pairs = jaccard_pairs(shingled, threshold=0.2)
    return dedup_clusters(pairs)


@query(
    "doc_tfidf_terms",
    oracle="""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
t AS (SELECT doc_id, unnest(toks) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf,
         round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, tfidf, rnk FROM ranked WHERE rnk <= 3
""",
)
def q_doc_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (north-star text analysis).
    Smoothed idf = ln((N+1)/(df+1)) + 1 (sklearn's smooth_idf). The
    document count N is a one-row frame cross-broadcast onto the term
    stats — never a driver-side collect. Scores round to 6 digits
    BEFORE ranking so the top-3 boundary cannot flip between engines
    on a sub-ulp difference; ties break on the term itself.

    The tf frame feeds both dfreq and the scored join but is NOT
    persisted: it sits directly on a groupBy shuffle, and caching it
    pins that shuffle's partition layout (AQE cannot re-coalesce under
    an InMemoryRelation) — measured 2x slower in a default-partition
    session than recomputing the branch; recompute is also the only
    option at 100 TB, where a per-(doc, term) frame cannot be cached.

    The fan-out is keyed on doc_id (a doc's exploded terms are always
    co-located, so hashpartitioning(doc_id) satisfies the (doc, term)
    aggregate's clustering): the tf aggregation reuses the fan-out
    exchange instead of re-shuffling the whole (doc, term) frame
    (guide §2.4). At real scale the fan-out branch is inactive and the
    plan is unchanged."""
    d = _docs(spark, sf_dir, keys=("doc_id",))
    toks = d.select("doc_id", tokens(F.col("text")).alias("_toks"))
    terms = toks.select("doc_id", F.explode("_toks").alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(n)
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0))
                        / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "doc_bm25_terms",
    oracle="""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
t AS (SELECT doc_id, unnest(toks) AS term FROM toks),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
corp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
scored AS (
  SELECT f.doc_id, f.term, f.tf,
         round(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (f.tf * 2.2)
           / (f.tf + 1.2 * (0.25 + 0.75 * (d.dl / avgdl))),
           6) AS bm25
  FROM tf f
  JOIN dfreq USING (term)
  JOIN dl d ON d.doc_id = f.doc_id
  CROSS JOIN corp
),
ranked AS (
  SELECT doc_id, term, tf, bm25,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY bm25 DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, bm25, rnk FROM ranked WHERE rnk <= 3
""",
)
def q_doc_bm25_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 BM25 terms per document (k1=1.2, b=0.75, Lucene-form
    idf = ln((N−df+0.5)/(df+0.5) + 1) — always positive) — the
    retrieval-grade sibling of `doc_tfidf_terms`, with the length
    normalization TF-IDF lacks: long documents stop dominating on raw
    term counts. Same scale shape as `doc_tfidf_terms`: explode →
    (doc, term) counts → vocab-keyed shuffle join on `term` (NOT
    broadcast: df has one row per distinct term, and at corpus scale
    the vocabulary is 10^8-10^9 terms — a broadcast hint there forces
    an un-broadcastable build side past Catalyst's size check; AQE
    picks the join strategy) → broadcast only the one-row corpus
    frame; avgdl is an exact integer sum over one tiny frame (no float
    aggregation-order sensitivity); scores round to 6 digits BEFORE
    ranking; ties break on the term. The fan-out is keyed on doc_id
    so the (doc, term) tf aggregate reuses the fan-out exchange (see
    doc_tfidf_terms)."""
    d = _docs(spark, sf_dir, keys=("doc_id",))
    toks = d.select("doc_id", tokens(F.col("text")).alias("_toks"))
    dl = toks.select("doc_id", F.size("_toks").cast("bigint").alias("dl"))
    terms = toks.select("doc_id", F.explode("_toks").alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corp = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    scored = (
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .join(F.broadcast(corp))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * (F.col("tf") * F.lit(2.2))
                / (
                    F.col("tf")
                    + F.lit(1.2)
                    * (
                        F.lit(0.25)
                        + F.lit(0.75) * (F.col("dl") / F.col("avgdl"))
                    )
                ),
                6,
            ).alias("bm25"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("bm25"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "doc_bm25_index_topk",
    oracle="""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
t AS (SELECT doc_id, unnest(toks) AS term FROM toks),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
corp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
bm AS (
  SELECT f.doc_id, f.term,
         round(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (f.tf * 2.2)
           / (f.tf + 1.2 * (0.25 + 0.75 * (d.dl / avgdl))),
           6) AS bm25
  FROM tf f
  JOIN dfreq USING (term)
  JOIN dl d ON d.doc_id = f.doc_id
  CROSS JOIN corp
),
qterm AS (
  SELECT DISTINCT doc_id AS query_id, term FROM t WHERE doc_id < 10
),
scored AS (
  SELECT qt.query_id, b.doc_id,
         CAST(sum(CAST(b.bm25 AS DECIMAL(38,6))) AS DOUBLE) AS score
  FROM qterm qt
  JOIN bm b ON b.term = qt.term AND b.doc_id != qt.query_id
  GROUP BY qt.query_id, b.doc_id
)
SELECT query_id, doc_id, score, rnk FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
  FROM scored
) WHERE rnk <= 10
""",
)
def q_doc_bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per query through the PERSISTED BM25 postings
    index (text/bm25_index.py — the round-14 lexical-lifecycle
    symmetry row): postings at rest partitioned by term-hash bucket,
    the serve pruning the scan to the query terms' buckets (a static
    partition filter that is EXACT for df, because a term's postings
    all live in its bucket) while df / n_docs / avgdl are derived
    from live rows — so this serve is value-identical to the
    from-scratch BM25 chain, which IS the oracle (the hybrid row's
    lexical side without the language filter). Scale shape: the
    corpus-sized postings artifact is read only at probed buckets and
    joined on term (vocab-keyed shuffle, never broadcast); doclens —
    two small ints per doc — carries the corpus stats; scores are
    round-6 per term and DECIMAL-exact in aggregation."""
    from sparktrends_spark.text.bm25_index import (
        build_bm25_index,
        bm25_index_topk,
    )
    from sparktrends_spark.plans.similarity import _idx_path

    d = _docs(spark, sf_dir)
    idx = _idx_path("bm25_index", sf_dir)
    build_bm25_index(d, idx)
    queries = d.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_index_topk(spark, idx, queries, k=10)


@query(
    "doc_pack_sequences",
    oracle=f"""
WITH {_TOKS_CTE.strip()},
sized AS (
  SELECT t.doc_id, d.source, len(t.toks) AS n_tokens
  FROM toks t JOIN documents d ON d.doc_id = t.doc_id
),
placed AS (
  SELECT doc_id, source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM sized
)
SELECT doc_id, source, n_tokens,
       CAST(floor(start_offset / 2048.0) AS BIGINT) AS pack_id,
       start_offset % 2048 AS pack_offset
FROM placed
""",
)
def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (north-star training-pipeline op): concatenate
    documents in deterministic (source, doc_id) order and cut the token
    stream into 2048-token training sequences; each doc reports the
    pack it starts in and its offset there. This is the cumulative-sum
    formulation of next-fit packing — the layout a dataloader needs to
    assemble fixed-length batches without padding waste.

    Scale shape: packing is PER SOURCE SHARD (the window partitions by
    `source`), so state never spans executors arbitrarily — at 100 TB
    you shard further (e.g. by (source, date)) and each shard packs
    independently; there is exactly one shuffle (the window exchange).
    All outputs are integers, so oracle comparison is exact; the
    running sum casts to BIGINT because DuckDB's windowed sum yields
    HUGEINT (pandas float64) otherwise.
    """
    d = _docs(spark, sf_dir)
    sized = d.select(
        "doc_id", "source", tokens(F.col("text")).alias("_toks")
    ).select("doc_id", "source", F.size("_toks").cast("long").alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return sized.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(start / 2048.0).cast("long").alias("pack_id"),
        (start % 2048).alias("pack_offset"),
    )


@query(
    "doc_decontaminate",
    oracle=f"""
WITH {_TOKS_CTE.strip()}, {_SHINGLES_CTE.strip()},
split AS (
  SELECT doc_id,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
              THEN 'train' ELSE 'test' END AS split
  FROM documents
),
e AS (
  SELECT s2.doc_id, sp.split, unnest(s2.sh) AS s
  FROM sh2 s2 JOIN split sp ON sp.doc_id = s2.doc_id
),
counts AS (SELECT s, count(*) AS bn FROM e GROUP BY s),
eb AS (SELECT e.doc_id, e.split, e.s FROM e JOIN counts ON e.s = counts.s WHERE bn <= 1000)
SELECT tr.doc_id,
       count(DISTINCT tr.s) AS n_shared_shingles,
       count(DISTINCT te.doc_id) AS n_test_docs
FROM eb tr
JOIN eb te ON te.s = tr.s AND te.split = 'test'
WHERE tr.split = 'train'
GROUP BY tr.doc_id
""",
)
def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (north-star training-pipeline op):
    find training documents that share any word 3-gram with a held-out
    test document — the n-gram-overlap contamination check used before
    training on a corpus that may contain benchmark text. Split
    assignment is the same content-free md5 bucket as
    ``doc_train_test_split``, so the check is reproducible end-to-end.

    Scale shape: one shingle explode (distinct per doc), super-common
    shingles dropped by a frequency bound (>1000 carriers is stopword
    n-grams, not contamination — and the bound caps join fan-out /
    skew). The bounded frame feeds both the train and the test branch
    but is deliberately NOT persisted: a shuffled exploded corpus is
    exactly the intermediate you cannot cache at 100 TB, and caching it
    here pins the un-coalesced shuffle layout (AQE cannot re-coalesce
    under an InMemoryRelation — measured 3x slower in a
    default-partition session than recomputing the branch). In a real
    deployment the test side is a small benchmark suite → broadcast;
    here it is the 10%% split, so the join shuffles on the shingle
    hash, which is the right plan when both sides are large. Counts
    are exact integers in both engines.
    """
    d = _docs(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = F.when(bucket < 90, F.lit("train")).otherwise(F.lit("test"))
    tokenized = d.select(
        "doc_id", split.alias("split"), tokens(F.col("text")).alias("_toks")
    ).filter(F.size("_toks") >= 3)
    shingled = tokenized.select(
        "doc_id", "split", word_shingles(F.col("_toks"), 3).alias("shingles")
    )
    exploded = shingled.select(
        "doc_id", "split", F.explode("shingles").alias("s")
    )
    counts = exploded.groupBy("s").agg(F.count(F.lit(1)).alias("bn"))
    bounded = exploded.join(counts.filter(F.col("bn") <= 1000), "s")
    train = bounded.filter(F.col("split") == "train").select("doc_id", "s")
    test = bounded.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("_test_doc"), F.col("s")
    )
    return (
        train.join(test, "s")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("s").alias("n_shared_shingles"),
            F.count_distinct("_test_doc").alias("n_test_docs"),
        )
    )


@query(
    "doc_stratified_sample",
    oracle="""
WITH keyed AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(concat('sample|', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1000 AS bucket
  FROM documents
)
SELECT doc_id, lang FROM keyed
WHERE bucket < CASE lang WHEN 'en' THEN 300 ELSE 1000 END
""",
)
def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling (north-star training-pipeline op):
    rebalance an English-heavy corpus by down-sampling 'en' to 30%
    while keeping low-resource languages whole — the per-stratum rate
    sampling every data-mixture pipeline runs before training.

    Deterministic Bernoulli via a salted md5 bucket of the doc id
    (salt 'sample|' keeps this draw independent of the
    ``doc_train_test_split`` draw): reproducible across engines, runs,
    and partitionings, unlike ``sample()``/``rand()``. Scale shape:
    pure map-side filter — no shuffle at any corpus size, and the rate
    table extends per stratum without plan changes.
    """
    d = _docs(spark, sf_dir)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sample|"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    rate = F.when(F.col("lang") == "en", F.lit(300)).otherwise(F.lit(1000))
    return (
        d.select("doc_id", "lang", bucket.alias("_b"), rate.alias("_r"))
        .filter(F.col("_b") < F.col("_r"))
        .select("doc_id", "lang")
    )


@query(
    "doc_repetition_stats",
    oracle=f"""
WITH {_TOKS_CTE.strip()},
s AS (
  SELECT doc_id,
         len(toks) AS n_words,
         len(list_distinct(toks)) AS n_distinct,
         list_transform(toks[1:len(toks) - 1],
                        (x, i) -> x || ' ' || toks[i + 1]) AS bigrams
  FROM toks WHERE len(toks) >= 2
),
c AS (
  SELECT doc_id, n_words, n_distinct, unnest(bigrams) AS bigram FROM s
),
f AS (
  SELECT doc_id, n_words, n_distinct, bigram, count(*) AS c
  FROM c GROUP BY doc_id, n_words, n_distinct, bigram
)
SELECT doc_id, n_words, n_distinct,
       round(1.0 - n_distinct / n_words, 6) AS dup_word_frac,
       round(max(c) / sum(c), 6) AS top_bigram_frac
FROM f GROUP BY doc_id, n_words, n_distinct
""",
)
def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per doc: duplicate-word
    fraction and most-frequent-bigram mass — the filters that catch
    boilerplate/spam before training.

    Scale shape: tokens materialize once, bigrams derive positionally
    from the array (no self-join), and both stats ride a two-level
    aggregation on (doc_id, bigram) → doc_id; the doc-constant counts
    travel inside the grouping key, so there is no doc-level re-join.
    """
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", tokens(F.col("text")).alias("_toks"))
    s = tok.select(
        "doc_id",
        F.size("_toks").alias("n_words"),
        F.size(F.array_distinct("_toks")).alias("n_distinct"),
        F.expr(
            "transform(slice(_toks, 1, size(_toks) - 1),"
            " (x, i) -> concat(x, ' ', _toks[i + 1]))"
        ).alias("_bigrams"),
    ).filter(F.col("n_words") >= 2)
    ex = s.select(
        "doc_id", "n_words", "n_distinct", F.explode("_bigrams").alias("bigram")
    )
    cnt = ex.groupBy("doc_id", "n_words", "n_distinct", "bigram").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        cnt.groupBy("doc_id", "n_words", "n_distinct")
        .agg(F.max("c").alias("_mx"), F.sum("c").alias("_tot"))
        .select(
            "doc_id",
            "n_words",
            "n_distinct",
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_words"), 6
            ).alias("dup_word_frac"),
            F.round(F.col("_mx") / F.col("_tot"), 6).alias("top_bigram_frac"),
        )
    )


@query(
    "lang_mixture_budget",
    oracle=f"""
WITH {_TOKS_CTE.strip()},
a AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len(toks)) AS BIGINT) AS lang_tokens
  FROM toks GROUP BY lang
)
SELECT lang, n_docs, lang_tokens,
       round(least(1.0, sum(lang_tokens) OVER () / count(*) OVER ()
                        / lang_tokens), 6) AS sample_frac
FROM a
""",
)
def q_lang_mixture_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform data-mixture allocation: per-language token counts and
    the sampling fraction that equalizes each language's share of the
    training budget (capped at 1.0 — low-resource languages keep
    everything).

    Scale shape: one token-count aggregation (map-side partials), then
    the global total rides an unpartitioned window over the already
    tiny per-language aggregate — never over the corpus.
    """
    d = _docs(spark, sf_dir)
    tok = d.select("lang", F.size(tokens(F.col("text"))).alias("_n"))
    agg = tok.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("_n").alias("lang_tokens")
    )
    w = Window.partitionBy()
    target = F.sum("lang_tokens").over(w) / F.count(F.lit(1)).over(w)
    frac = F.least(F.lit(1.0), target / F.col("lang_tokens"))
    return agg.select(
        "lang",
        "n_docs",
        "lang_tokens",
        F.round(frac, 6).alias("sample_frac"),
    )


@query(
    "doc_chunk_dup_stats",
    oracle=f"""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
x AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / {_CHUNK}.0) AS BIGINT))) AS chunk_id
  FROM s
),
h AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, chunk_id * {_CHUNK} + 1,
                                        chunk_id * {_CHUNK} + {_CHUNK}), ' ')) AS ch
  FROM x
),
ph AS (SELECT ch, count(DISTINCT doc_id) AS nd FROM h GROUP BY ch)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
       round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE),
             6) AS shared_frac
FROM h JOIN ph USING (ch)
GROUP BY doc_id
""",
)
def q_doc_chunk_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document chunk-duplication profile — the RefinedWeb/Gopher
    curation signal "how much of this document is boilerplate shared
    with other documents": chunk every doc into fixed word windows,
    hash chunks, count distinct docs per chunk hash, and report each
    doc's shared-chunk fraction.

    Scale shape: chunk fan-out is pure JVM (split+sequence+slice, no
    Python), then ONE shuffle keys everything by chunk hash — the
    distinct-doc count and the chunk->count join co-partition on that
    same key, and the final per-doc agg is the only second exchange.
    Chunk payloads never ride the join (only doc_id, hash)."""
    from sparktrends_spark.text.chunking import chunk_documents_builtin

    ch = chunk_documents_builtin(_docs(spark, sf_dir), _CHUNK).select(
        "doc_id", F.md5("chunk").alias("ch")
    )
    # same min/max-inequality restatement of ">= 2 distinct docs" as
    # _span_frames: one ch-keyed exchange instead of a distinct-dedup
    # exchange + a ch exchange, and the surviving single shuffle
    # co-partitions with the join back on ch
    per_hash = ch.groupBy("ch").agg(
        F.min("doc_id").alias("_d0"), F.max("doc_id").alias("_d1")
    )
    shared = F.when(F.col("_d0") != F.col("_d1"), 1).otherwise(0)
    return (
        ch.join(per_hash, "ch")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(shared).cast("bigint").alias("n_shared_chunks"),
            F.round(
                F.sum(shared) / F.count(F.lit(1)).cast("double"), 6
            ).alias("shared_frac"),
        )
    )


_HASH_DIM = 32

_HASH_EMBED_CTES = f"""
toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 2)) AS BIGINT) % {_HASH_DIM} AS idx,
         1 - 2 * (CAST(concat('0x', substr(md5(tok), 3, 2)) AS BIGINT) % 2) AS sgn
  FROM toks
),
s AS (SELECT doc_id, idx, CAST(sum(sgn) AS DOUBLE) AS v FROM h GROUP BY doc_id, idx),
agg AS (SELECT doc_id, list(struct_pack(idx := idx, v := v)) AS es FROM s GROUP BY doc_id),
vec AS (
  SELECT doc_id,
         [coalesce(list_sum([e.v for e in es if e.idx = i]), 0.0)
          for i in range(0, {_HASH_DIM})] AS raw
  FROM agg
),
n AS (
  SELECT doc_id, raw,
         sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm
  FROM vec
)
"""

_HASH_EMBED_ORACLE = f"""
WITH {_HASH_EMBED_CTES.strip()}
SELECT doc_id,
       array_to_string(
         list_transform(CASE WHEN nrm = 0 THEN raw
                             ELSE list_transform(raw, x -> x / nrm) END,
                        x -> printf('%.6f', x)),
         ',') AS embedding,
       round(nrm, 6) AS l2_norm
FROM n
"""


def hash_embed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, raw array<double>, l2 norm) — signed feature-hash
    document vectors, all JVM expressions: explode -> md5-derived
    dim/sign -> one hash agg keyed (doc_id, dim) -> dense-array
    assembly from a map. Payload never exceeds O(docs x dim)."""
    from sparktrends_spark.text.analysis import tokens

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    hx = tok.select(
        "doc_id",
        (F.conv(F.substring(F.md5("tok"), 1, 2), 16, 10).cast("long")
         % _HASH_DIM).alias("idx"),
        (F.lit(1) - F.lit(2)
         * (F.conv(F.substring(F.md5("tok"), 3, 2), 16, 10).cast("long") % 2)
         ).alias("sgn"),
    )
    sums = hx.groupBy("doc_id", "idx").agg(
        F.sum("sgn").cast("double").alias("v")
    )
    assembled = (
        sums.groupBy("doc_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("idx", "v"))).alias("m"))
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.lit(_HASH_DIM - 1).cast("long")),
                lambda i: F.coalesce(F.col("m")[i], F.lit(0.0)),
            ).alias("raw"),
        )
    )
    nrm = F.sqrt(F.aggregate("raw", F.lit(0.0), lambda a, x: a + x * x))
    return assembled.select("doc_id", "raw", nrm.alias("nrm"))


@query("doc_hash_embedding", oracle=_HASH_EMBED_ORACLE)
def q_doc_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed document embeddings computed IN-PLAN — the
    model-free featurization that bridges the text family into the
    similarity family (hash-kernel / signed feature hashing): each
    token lands in an md5-derived dimension with an md5-derived sign,
    counts accumulate, and the vector is L2-normalized. Downstream
    these flow straight into the cosine/LSH/IVF operators
    (similarity/cosine.py) without any model service."""
    e = hash_embed_vectors(spark, sf_dir)
    # serialized fixed-format CSV, same convention as
    # segment_priority_arrays: both engines hash the identical string
    normalized = F.when(F.col("nrm") == 0, F.col("raw")).otherwise(
        F.transform("raw", lambda x: x / F.col("nrm"))
    )
    return e.select(
        "doc_id",
        F.concat_ws(
            ",",
            F.transform(normalized, lambda x: F.format_string("%.6f", x)),
        ).alias("embedding"),
        F.round("nrm", 6).alias("l2_norm"),
    )


@query(
    "doc_embedding_topk",
    oracle=f"""
WITH {_HASH_EMBED_CTES.strip()},
e AS (SELECT doc_id, raw, nrm FROM n WHERE nrm > 0),
q AS (SELECT doc_id AS query_id, raw AS qv, nrm AS qn FROM e WHERE doc_id < 10),
scored AS (
  SELECT query_id, e.doc_id,
         round(list_dot_product(qv, raw) / (qn * nrm), 6) AS cosine
  FROM e, q WHERE e.doc_id != query_id
)
SELECT query_id, doc_id, cosine, rnk FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rnk
  FROM scored
) WHERE rnk <= 3
""",
)
def q_doc_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text -> embedding -> similarity, chained end-to-end in one plan:
    hash-embed every document in-plan (no model service), then exact
    cosine top-3 neighbors for the first 10 docs via the broadcast
    brute-force ranker — the full semantic-search dataflow over raw
    text. Zero-norm docs are excluded (cosine undefined); the corpus
    side never shuffles."""
    from sparktrends_spark.caching import persist_tracked
    from sparktrends_spark.similarity.cosine import brute_force_topk

    # pinned: the query branch (broadcast side) and the candidate scan
    # both read it — without persist the whole explode->agg->assemble
    # pipeline executes twice
    e = persist_tracked(
        hash_embed_vectors(spark, sf_dir).filter(F.col("nrm") > 0)
    )
    queries = e.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), F.col("raw")
    )
    return brute_force_topk(
        queries, e, k=3, query_id="query_id", cand_id="doc_id", vec_col="raw"
    )


_SPAN_K = 8

# Shared CTE pieces: tokens -> shingle hashes (prefix), and the
# interval merge (suffix, expects a ``dp(doc_id, p, e)`` CTE). The
# "which positions are flagged" CTE between them varies per query
# (cross-doc duplication vs benchmark-set membership).
_SPANS_PREFIX = f"""toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
b AS (SELECT doc_id, toks, len(toks) AS n FROM toks),
pos AS (
  SELECT doc_id, toks, n, unnest(range(0, n - {_SPAN_K} + 1)) AS p
  FROM b WHERE n >= {_SPAN_K}
),
h AS (
  SELECT doc_id, p,
         md5(array_to_string(list_slice(toks, p + 1, p + {_SPAN_K}), ' ')) AS h
  FROM pos
)"""

_SPANS_MERGE = """brk AS (
  SELECT doc_id, p, e,
         CASE WHEN p > coalesce(max(e) OVER (
                PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS is_new
  FROM dp
),
grp AS (
  SELECT doc_id, p, e,
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM brk
),
spans AS (
  SELECT doc_id, min(p) AS s, max(e) AS e FROM grp GROUP BY doc_id, g
)"""

_SPANS_CTES = f"""{_SPANS_PREFIX},
dup AS (SELECT h FROM h GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
dp AS (SELECT doc_id, p, p + {_SPAN_K} - 1 AS e FROM h JOIN dup USING (h)),
{_SPANS_MERGE}"""

_DUP_SPANS_ORACLE = f"""
WITH {_SPANS_CTES},
perdoc AS (
  SELECT doc_id,
         count(*) AS n_dup_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS dup_words,
         CAST(max(e - s + 1) AS BIGINT) AS longest_span
  FROM spans GROUP BY doc_id
)
SELECT b.doc_id, b.n AS n_words,
       coalesce(n_dup_spans, 0) AS n_dup_spans,
       coalesce(dup_words, 0) AS dup_words,
       coalesce(longest_span, 0) AS longest_span,
       round(coalesce(dup_words, 0) / CAST(b.n AS DOUBLE), 6) AS dup_frac
FROM b LEFT JOIN perdoc USING (doc_id)
"""


def _hashed_positions(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(base, hashed): base = (doc_id, toks, n); hashed = one row per
    K-shingle start position (doc_id, p, h). Mirrors _SPANS_PREFIX."""
    base = d.select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
    ).select("doc_id", "toks", F.size("toks").alias("n"))

    pos = base.filter(F.col("n") >= _SPAN_K).select(
        "doc_id",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - _SPAN_K)).alias("p"),
        F.col("toks"),
    )
    hashed = pos.select(
        "doc_id",
        "p",
        F.md5(
            F.concat_ws(" ", F.slice("toks", F.col("p") + 1, F.lit(_SPAN_K)))
        ).alias("h"),
    )
    return base, hashed


def _merge_spans(dp: DataFrame) -> DataFrame:
    """Union flagged intervals (doc_id, p, e) into maximal spans
    (doc_id, s, e). Mirrors _SPANS_MERGE."""
    w = Window.partitionBy("doc_id").orderBy("p")
    prev_max_end = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = F.when(
        F.col("p") > F.coalesce(prev_max_end, F.lit(-1)), 1
    ).otherwise(0)
    grouped = dp.withColumn(
        "g",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return grouped.groupBy("doc_id", "g").agg(
        F.min("p").alias("s"), F.max("e").alias("e")
    )


def _span_frames(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(base, spans) for CROSS-DOC duplication: a position is flagged
    when its shingle occurs in >= 2 distinct docs. Mirrors _SPANS_CTES
    semantically — expression-for-expression EXCEPT the ">= 2 distinct
    docs" predicate, intentionally restated as min(doc_id) !=
    max(doc_id) (equivalent for an id column; see the comment below)
    while the oracle keeps count(DISTINCT doc_id) >= 2."""
    base, hashed = _hashed_positions(d)
    # ">= 2 distinct docs" == "min(doc_id) != max(doc_id)" (nulls can't
    # occur in an id column, and even with them: all-null -> null
    # comparison -> dropped, same as count_distinct 0). min/max are
    # plain aggregates with map-side partials — ONE h-keyed exchange —
    # where count_distinct plans a (h, doc_id) dedup exchange first
    # (2 exchanges of the position-level frame, guide §2.3/§2.4).
    dup_hashes = (
        hashed.groupBy("h")
        .agg(F.min("doc_id").alias("_d0"), F.max("doc_id").alias("_d1"))
        .filter(F.col("_d0") != F.col("_d1"))
        .select("h")
    )
    dp = hashed.join(dup_hashes, "h", "left_semi").select(
        "doc_id", "p", (F.col("p") + _SPAN_K - 1).alias("e")
    )
    return base, _merge_spans(dp)


@query("doc_dup_spans", oracle=_DUP_SPANS_ORACLE)
def q_doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring spans per document — the
    suffix-array substring-dedup signal of Lee et al., "Deduplicating
    Training Data Makes Language Models Better" (public paper),
    re-expressed relationally: a word position is duplicated when the
    K-word shingle starting there occurs in >= 2 distinct documents;
    overlapping duplicated shingles [p, p+K-1] are unioned into
    maximal intervals with a running-max-end window (a textbook
    interval merge, NOT the gaps-and-islands diff-by-1 trick, which
    would double-count words shared by shingles closer than K apart).
    Output per doc: span count, total duplicated words, longest span,
    duplicated fraction — the signals a curation pipeline thresholds
    on before cutting spans out of training text.

    Scale shape: shingle fan-out is pure JVM (split/sequence/slice);
    ONE shuffle keys the corpus by shingle hash for the distinct-doc
    count and the hash semi-join back; the interval merge then runs
    windowed per doc_id (second exchange, keyed by doc). Shingle text
    never rides the join — only (doc_id, position, hash)."""
    base, spans = _span_frames(_docs(spark, sf_dir))
    span_len = F.col("e") - F.col("s") + 1
    perdoc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(span_len).cast("bigint").alias("dup_words"),
        F.max(span_len).cast("bigint").alias("longest_span"),
    )
    return (
        base.select("doc_id", F.col("n").alias("n_words"))
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_words", F.lit(0)).alias("dup_words"),
            F.coalesce("longest_span", F.lit(0)).alias("longest_span"),
            F.round(
                F.coalesce("dup_words", F.lit(0))
                / F.col("n_words").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


_DUP_REMOVED_ORACLE = f"""
WITH {_SPANS_CTES},
cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS p FROM spans),
tp AS (SELECT doc_id, toks, n, unnest(range(0, n)) AS p FROM b),
tok AS (SELECT doc_id, n, p, toks[p + 1] AS tok FROM tp),
kept AS (SELECT doc_id, n, p, tok FROM tok ANTI JOIN cov USING (doc_id, p)),
cl AS (
  SELECT doc_id, count(*) AS kept_words,
         string_agg(tok, ' ' ORDER BY p) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, b.n AS n_words,
       coalesce(kept_words, 0) AS kept_words,
       b.n - coalesce(kept_words, 0) AS removed_words,
       md5(coalesce(cleaned, '')) AS cleaned_fp
FROM b LEFT JOIN cl USING (doc_id)
"""


@query("doc_dup_spans_removed", oracle=_DUP_REMOVED_ORACLE)
def q_doc_dup_spans_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring dedup APPLIED (the second half of the Lee et al.
    pipeline): cut every maximal cross-document duplicated span out of
    each document and fingerprint the surviving text, so the oracle
    checks the cleaned bytes exactly — including fully-duplicated
    documents collapsing to the empty string. Word order is preserved
    by sorting the kept (position, token) pairs inside the per-doc
    aggregate, not by any global sort.

    Scale shape: the span computation is shared with doc_dup_spans
    (one shingle-hash shuffle + one doc-keyed window); removal adds a
    doc-co-partitioned anti join of token positions against covered
    positions and one final per-doc aggregate — everything keyed by
    doc_id, so AQE can reuse the same exchange."""
    base, spans = _span_frames(_docs(spark, sf_dir))
    covered = spans.select(
        "doc_id", F.explode(F.sequence("s", "e")).alias("p")
    )
    toks_pos = base.select(
        "doc_id", F.posexplode("toks").alias("p", "tok")
    )
    kept = toks_pos.join(covered, ["doc_id", "p"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_words"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("cleaned"),
    )
    return (
        base.select("doc_id", F.col("n").alias("n_words"))
        .join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce("kept_words", F.lit(0)).alias("kept_words"),
            (F.col("n_words") - F.coalesce("kept_words", F.lit(0))).alias(
                "removed_words"
            ),
            F.md5(F.coalesce("cleaned", F.lit(""))).alias("cleaned_fp"),
        )
    )


def _pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministic synthetic PII appended in-plan.

    The driver corpus contains no PII by construction, so a detector
    over it would be vacuously all-zero; both the Spark plan and the
    DuckDB oracle append the SAME doc_id-derived email/phone/IP
    strings, making the regex logic genuinely falsifiable. At
    production scale this injection step disappears — the detect and
    redact projections below run unchanged on raw text."""
    from sparktrends_spark.text.pii import inject_synthetic_pii

    return _docs(spark, sf_dir).select(
        "doc_id",
        inject_synthetic_pii(F.col("text"), F.col("doc_id")).alias("text"),
    )


def _pii_cte() -> str:
    return """
pii AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com today' ELSE '' END
         || CASE WHEN doc_id % 7 = 0
              THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   || ' now' ELSE '' END
         || CASE WHEN doc_id % 11 = 0
              THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                   || CAST(doc_id % 250 AS VARCHAR) || ' logged' ELSE '' END
           AS text
  FROM documents
)
"""


def _pii_stats_oracle() -> str:
    from sparktrends_spark.text.pii import PII_PATTERNS

    e, p, i = (PII_PATTERNS[k] for k in ("email", "phone", "ip"))
    return f"""
WITH {_pii_cte().strip()},
c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{e}')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_phones,
         CAST(len(regexp_extract_all(text, '{i}')) AS BIGINT) AS n_ips
  FROM pii
)
SELECT doc_id, n_emails, n_phones, n_ips,
       (n_emails + n_phones + n_ips) > 0 AS has_pii
FROM c
"""


@query("doc_pii_stats", oracle=_pii_stats_oracle())
def q_doc_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII census (emails / phone numbers / IPv4): the
    signal a curation pipeline uses to route documents to redaction
    or rejection. Pure projection — three JVM regexp_count
    expressions in one whole-stage-codegen pass, zero shuffles; at
    100 TB this is a map-only scan."""
    from sparktrends_spark.text.pii import pii_count

    d = _pii_docs(spark, sf_dir)
    t = F.col("text")
    out = d.select(
        "doc_id",
        pii_count(t, "email").alias("n_emails"),
        pii_count(t, "phone").alias("n_phones"),
        pii_count(t, "ip").alias("n_ips"),
    )
    return out.withColumn(
        "has_pii",
        (F.col("n_emails") + F.col("n_phones") + F.col("n_ips")) > 0,
    )


def _pii_redact_oracle() -> str:
    from sparktrends_spark.text.pii import PII_PATTERNS, REDACTION_TOKENS

    e, p, i = (PII_PATTERNS[k] for k in ("email", "phone", "ip"))
    te, tp, ti = (REDACTION_TOKENS[k] for k in ("email", "phone", "ip"))
    return f"""
WITH {_pii_cte().strip()},
r AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{e}')) AS BIGINT)
           + CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT)
           + CAST(len(regexp_extract_all(text, '{i}')) AS BIGINT)
           AS n_redactions,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{e}', '{te}', 'g'),
             '{p}', '{tp}', 'g'),
           '{i}', '{ti}', 'g') AS red
  FROM pii
)
SELECT doc_id, n_redactions,
       md5(red) AS redacted_fp,
       CAST(length(red) AS BIGINT) AS redacted_len
FROM r
"""


@query("doc_pii_redact", oracle=_pii_redact_oracle())
def q_doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: every email/phone/IPv4 match replaced by a type
    token (<EMAIL>/<PHONE>/<IP>) via a chained JVM regexp_replace
    projection; reports the redaction count and a fingerprint of the
    scrubbed text (the oracle hashes the exact same bytes, so the
    replacement spans must agree character-for-character). Map-only —
    the 100 TB shape is scan -> project -> write, no exchange."""
    from sparktrends_spark.text.pii import pii_count, redact

    d = _pii_docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        (
            pii_count(t, "email") + pii_count(t, "phone") + pii_count(t, "ip")
        ).alias("n_redactions"),
        F.md5(redact(t)).alias("redacted_fp"),
        F.length(redact(t)).cast("bigint").alias("redacted_len"),
    )


_MIX_ALPHA = 0.7


@query(
    "lang_temperature_mixture",
    oracle=f"""
WITH {_TOKS_CTE.strip()},
a AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len(toks)) AS BIGINT) AS lang_tokens
  FROM toks GROUP BY lang
),
p AS (
  SELECT lang, n_docs, lang_tokens,
         lang_tokens / CAST(sum(lang_tokens) OVER () AS DOUBLE) AS share,
         pow(lang_tokens / CAST(sum(lang_tokens) OVER () AS DOUBLE),
             {_MIX_ALPHA}) AS powered
  FROM a
)
SELECT lang, n_docs, lang_tokens,
       round(share, 6) AS natural_share,
       round(powered / sum(powered) OVER (), 6) AS mixture_share,
       round((powered / sum(powered) OVER ()) / share, 6) AS upsample_factor
FROM p
""",
)
def q_lang_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (the multilingual-corpus
    sampling scheme of XLM-R / mT5, public papers): each language's
    natural token share p_l is raised to alpha = 0.7 and renormalized,
    damping head languages and upsampling the tail; the reported
    upsample_factor is the rate a sampler applies per language.

    Same scale shape as lang_mixture_budget: one corpus aggregation,
    then global windows over the tiny per-language frame only."""
    d = _docs(spark, sf_dir)
    tok = d.select("lang", F.size(tokens(F.col("text"))).alias("_n"))
    agg = tok.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("_n").alias("lang_tokens")
    )
    w = Window.partitionBy()
    share = F.col("lang_tokens") / F.sum("lang_tokens").over(w).cast("double")
    powered = F.pow(share, F.lit(_MIX_ALPHA))
    mixture = powered / F.sum(powered).over(w)
    return agg.select(
        "lang",
        "n_docs",
        "lang_tokens",
        F.round(share, 6).alias("natural_share"),
        F.round(mixture, 6).alias("mixture_share"),
        F.round(mixture / share, 6).alias("upsample_factor"),
    )


_DRIFT_ORACLE = """
WITH tok AS (
  SELECT source,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
st AS (SELECT source, tok, count(*) AS c_st FROM tok GROUP BY source, tok),
s AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source),
t AS (SELECT tok, sum(c_st) AS c_t FROM st GROUP BY tok),
tot AS (SELECT sum(c_t) AS n FROM t),
term AS (
  SELECT st.source,
         (c_st / CAST(n_s AS DOUBLE))
           * ln((c_st / CAST(n_s AS DOUBLE)) / (c_t / CAST(n AS DOUBLE)))
           AS kl_term
  FROM st
  JOIN s USING (source)
  JOIN t USING (tok)
  CROSS JOIN tot
)
SELECT s.source, s.n_s AS n_tokens,
       CAST((SELECT count(*) FROM st WHERE st.source = s.source) AS BIGINT)
         AS n_distinct_tokens,
       round((SELECT sum(kl_term) FROM term WHERE term.source = s.source), 6)
         AS kl_vs_corpus
FROM s
"""


@query("corpus_source_drift", oracle=_DRIFT_ORACLE)
def q_corpus_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: KL(source token distribution ||
    corpus token distribution) — the monitoring signal a training-data
    pipeline tracks per ingestion source to catch a feed going off
    (spam flood, language shift, scraper breakage). KL vs the full
    corpus is always finite: any token a source emits has corpus mass.

    Scale shape: one explode keyed by (source, token) for the partial
    counts (map-side combine collapses repeats before the exchange),
    then the token-marginal join is token-co-partitioned, the
    per-source totals ride a broadcast, and the final agg is one row
    per source. No Python anywhere."""
    tok = _docs(spark, sf_dir).select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    )
    st = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_st"))
    s_tot = st.groupBy("source").agg(
        F.sum("c_st").cast("bigint").alias("n_s"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
    )
    t_tot = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    n = t_tot.agg(F.sum("c_t").alias("n"))
    p = F.col("c_st") / F.col("n_s").cast("double")
    q = F.col("c_t") / F.col("n").cast("double")
    kl = (
        st.join(F.broadcast(s_tot.select("source", "n_s")), "source")
        .join(t_tot, "tok")
        .join(n)
        .groupBy("source")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"))
    )
    return s_tot.select("source", F.col("n_s").alias("n_tokens"), "n_distinct_tokens").join(
        kl, "source"
    )


_DSIR_CTES = """tok AS (
  SELECT doc_id, lang,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
raw AS (SELECT tok, count(*) AS c_r FROM tok GROUP BY tok),
tgt AS (SELECT tok, count(*) AS c_t FROM tok WHERE lang = 'en' GROUP BY tok),
consts AS (
  SELECT (SELECT sum(c_r) FROM raw) AS n_r,
         (SELECT coalesce(sum(c_t), 0) FROM tgt) AS n_t,
         (SELECT count(*) FROM raw) AS v
),
lr AS (
  SELECT raw.tok,
         ln(((coalesce(c_t, 0) + 1) / CAST(n_t + v AS DOUBLE))
            / ((c_r + 1) / CAST(n_r + v AS DOUBLE))) AS llr_tok
  FROM raw LEFT JOIN tgt USING (tok) CROSS JOIN consts
),
scored AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         sum(llr_tok) / count(*) AS llr_raw,
         any_value(lang = 'en') AS in_target
  FROM tok JOIN lr USING (tok)
  GROUP BY doc_id
)"""

_DSIR_ORACLE = f"""
WITH {_DSIR_CTES}
SELECT doc_id, n_tokens,
       round(llr_raw, 6) AS llr_per_token,
       in_target
FROM scored
"""


@query("doc_importance_weights", oracle=_DSIR_ORACLE)
def q_doc_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection importance weights in the style of DSIR (Xie et
    al., "Data Selection for Language Models via Importance
    Resampling", public paper): score every document by its
    per-token log-likelihood ratio between a target unigram
    distribution (here: the 'en' slice) and the raw corpus
    distribution, add-1 smoothed over the corpus vocabulary so
    out-of-target tokens stay finite. A sampler then keeps documents
    with probability proportional to exp(llr) — the length-normalized
    per-token form reported here keeps long documents comparable.

    Scale shape: two token-keyed aggregates (raw + target marginals,
    map-side combined) joined token-co-partitioned into a per-token
    log-ratio table, the three corpus scalars ride one broadcast row,
    and the doc scoring re-joins tokens to ratios on the same token
    key before one per-doc aggregate. No Python in the row path."""
    return _dsir_scored(spark, sf_dir).select(
        "doc_id",
        "n_tokens",
        F.round("llr_raw", 6).alias("llr_per_token"),
        "in_target",
    )


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, llr_raw, in_target) — mirrors _DSIR_CTES."""
    tok = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    raw = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c_r"))
    tgt = (
        tok.filter(F.col("lang") == "en")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    consts = raw.agg(
        F.sum("c_r").alias("n_r"), F.count(F.lit(1)).alias("v")
    ).join(tgt.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("n_t")))
    ct = F.coalesce(F.col("c_t"), F.lit(0))
    lr = (
        raw.join(tgt, "tok", "left")
        .join(F.broadcast(consts))
        .select(
            "tok",
            F.log(
                ((ct + 1) / (F.col("n_t") + F.col("v")).cast("double"))
                / (
                    (F.col("c_r") + 1)
                    / (F.col("n_r") + F.col("v")).cast("double")
                )
            ).alias("llr_tok"),
        )
    )
    return (
        tok.join(lr, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum("llr_tok") / F.count(F.lit(1))).alias("llr_raw"),
            F.any_value(F.col("lang") == "en").alias("in_target"),
        )
    )


def _incremental_dedup_oracle() -> str:
    return f"""
WITH {_TOKS_CTE.strip()}, {_SHINGLES_CTE.strip()},
{_minhash_sig_sql().strip()},
bands AS (
  SELECT doc_id, b,
         md5(array_to_string([CAST(x AS VARCHAR) for x in sig[b*4+1:b*4+4]], '|')) AS bh
  FROM sigs, unnest([0, 1, 2, 3]) AS t(b)
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM bands n JOIN bands o ON n.b = o.b AND n.bh = o.bh
  WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
),
est AS (
  SELECT new_id, old_id,
         list_sum(list_transform(range(1, 17),
                  i -> CASE WHEN sn.sig[i] = so.sig[i] THEN 1 ELSE 0 END))
           / 16.0 AS est_j
  FROM cand
  JOIN sigs sn ON sn.doc_id = new_id
  JOIN sigs so ON so.doc_id = old_id
),
best AS (
  SELECT new_id, old_id, est_j,
         row_number() OVER (PARTITION BY new_id
                            ORDER BY est_j DESC, old_id) AS rn
  FROM est WHERE est_j >= 0.7
)
SELECT d.doc_id,
       (b.old_id IS NOT NULL) AS is_dup,
       b.old_id AS matched_doc,
       round(b.est_j, 6) AS est_jaccard
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = d.doc_id
WHERE d.doc_id % 2 = 1
"""


@query("doc_incremental_dedup", oracle=_incremental_dedup_oracle())
def q_doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a persisted MinHash index
    (`text/dedup_index.py`): the even-doc half of the corpus is
    summarized into a signature+band index (no text retained), then
    the odd-doc half arrives as a batch and is flagged against it —
    the production shape where history is 100 TB and only its compact
    index is ever touched. Duplicate decision = signature agreement
    (>= 0.7 of 16 permutations), best match by agreement then id; the
    DuckDB oracle replays the identical md5-permutation MinHash, so
    even the probabilistic banding matches value-exactly.

    Scale shape: four band-hash equi-joins (hash joins, index side
    keyed by band hash), only 16-int signatures ride the joins, one
    small window over surviving candidates."""
    from sparktrends_spark.text.dedup_index import (
        build_dedup_index,
        incremental_dedup,
    )

    d = _docs(spark, sf_dir)
    idx = scratch_path("dedup_index", sf_dir)
    build_dedup_index(d.filter(F.col("doc_id") % 2 == 0), idx)
    return incremental_dedup(
        d.filter(F.col("doc_id") % 2 == 1), idx, threshold=0.7, append=False
    )



def _dedup_index_delete_oracle() -> str:
    # identical chain to _incremental_dedup_oracle, with the takedown
    # set (even ids divisible by 10) excluded from the INDEX side of
    # the candidate pairs — filtering old_id before or after the
    # per-pair max is equivalent, which is exactly what the tombstone
    # anti-join computes
    return _incremental_dedup_oracle().replace(
        "WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0",
        "WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0"
        " AND o.doc_id % 10 != 0",
    )


@query("doc_dedup_index_delete", oracle=_dedup_index_delete_oracle())
def q_doc_dedup_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown against the persisted dedup index
    (`text/dedup_index.delete_from_dedup_index`): the even-doc half is
    indexed, the ids divisible by 10 are then DELETED (a takedown/PII
    purge), and the odd-doc batch is flagged against what remains — a
    doc whose only near-duplicates were taken down must come back
    UNIQUE (deletes stop suppressing immediately, before any physical
    reclaim). After the match, compaction physically drops the
    tombstoned signature rows and the re-run against the compacted
    index must be identical — raise-checked in-query; the value oracle
    is the incremental-dedup chain with the takedown set excluded from
    the index side of the candidate pairs."""
    from sparktrends_spark.plans.similarity import _idx_path
    from sparktrends_spark.text.dedup_index import (
        build_dedup_index,
        compact_dedup_index,
        delete_from_dedup_index,
        incremental_dedup,
    )

    d = _docs(spark, sf_dir)
    # per-process path (delete+compact mutate the index in place)
    idx = _idx_path("dedup_del", sf_dir)
    build_dedup_index(d.filter(F.col("doc_id") % 2 == 0), idx)
    delete_from_dedup_index(
        spark,
        idx,
        d.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 10 == 0))
        .select("doc_id"),
    )
    batch = d.filter(F.col("doc_id") % 2 == 1)
    pre = incremental_dedup(batch, idx, threshold=0.7, append=False)
    pre_rows = {r["doc_id"]: r for r in pre.collect()}
    cinfo = compact_dedup_index(spark, idx)
    if cinfo["n_reclaimed"] < 1:
        raise ValueError(f"compaction reclaimed nothing: {cinfo}")
    post = incremental_dedup(batch, idx, threshold=0.7, append=False)
    post_rows = {r["doc_id"]: r for r in post.collect()}
    if pre_rows != post_rows:
        raise ValueError(
            "tombstone-anti-join match != post-compact match"
        )
    return post


def _curation_oracle() -> str:
    from sparktrends_spark.text.pii import PII_PATTERNS, REDACTION_TOKENS

    e, p, i = (PII_PATTERNS[k] for k in ("email", "phone", "ip"))
    te, tp, ti = (REDACTION_TOKENS[k] for k in ("email", "phone", "ip"))
    return f"""
WITH ranked AS (
  SELECT doc_id, lang, text,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
),
dedup AS (SELECT doc_id, lang, text FROM ranked WHERE rn = 1),
pii AS (
  SELECT doc_id, lang,
         text
         || CASE WHEN doc_id % 5 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com today' ELSE '' END
         || CASE WHEN doc_id % 7 = 0
              THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   || ' now' ELSE '' END
         || CASE WHEN doc_id % 11 = 0
              THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                   || CAST(doc_id % 250 AS VARCHAR) || ' logged' ELSE '' END
           AS text
  FROM dedup
),
scrubbed AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(text, '{e}')) AS BIGINT)
           + CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT)
           + CAST(len(regexp_extract_all(text, '{i}')) AS BIGINT)
           AS n_red,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{e}', '{te}', 'g'),
             '{p}', '{tp}', 'g'),
           '{i}', '{ti}', 'g') AS red
  FROM pii
),
toks AS (
  SELECT doc_id, lang, n_red,
         len(regexp_split_to_array(trim(lower(red)), '\\s+')) AS n_toks
  FROM scrubbed
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       CAST(sum(n_red) AS BIGINT) AS n_redactions
FROM toks
WHERE n_toks >= 20
GROUP BY lang
"""


@query("corpus_curation_pipeline", oracle=_curation_oracle())
def q_corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pass as ONE Catalyst plan — exact dedup
    (keep-first per content hash) -> PII scrub (injected identically
    in plan and oracle, as in doc_pii_redact) -> minimum-length
    quality gate on the SCRUBBED text -> per-language corpus stats.
    This is the composition a pipeline user actually ships; declaring
    it as one DataFrame chain lets Catalyst pipeline the scrub and
    quality projections into the dedup shuffle's output without
    materializing intermediate corpora.

    Scale shape: one content-hash window for dedup (keyed shuffle),
    then map-only regexp scrub + token gate, one final per-lang
    aggregate. At 100 TB: two exchanges total, everything between is
    whole-stage-codegen projections."""
    from sparktrends_spark.text.pii import pii_count, redact

    # Hash BEFORE the fan-out and key the fan-out on the content hash
    # (the corpus_selection pattern, guide §2.4): the dedup window
    # clusters on the same column, so it reuses this one exchange —
    # before, the text payload rode a round-robin fan-out AND the
    # window's own hash exchange (3 exchanges total, now 2). The
    # PII/scrub/gate projections stay downstream of the exchange, so
    # the fan-out still buys their parallelism.
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select("doc_id", "lang", "text", F.md5("text").alias("_chash"))
    fanned = scan_parallel(
        hashed,
        source_path=getattr(d, "_sparktrends_scan_path", None),
        keys=("_chash",),
    )
    w = Window.partitionBy("_chash").orderBy("doc_id")
    dedup = (
        fanned.select(
            "doc_id", "lang", "text", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    from sparktrends_spark.text.pii import inject_synthetic_pii

    with_pii = dedup.select(
        "doc_id", "lang",
        inject_synthetic_pii(F.col("text"), F.col("doc_id")).alias("text"),
    )
    t = F.col("text")
    scrubbed = with_pii.select(
        "doc_id", "lang",
        (
            pii_count(t, "email") + pii_count(t, "phone") + pii_count(t, "ip")
        ).alias("n_red"),
        redact(t).alias("red"),
    )
    gated = scrubbed.select(
        "lang", "n_red", F.size(tokens(F.col("red"))).alias("n_toks")
    ).filter(F.col("n_toks") >= 20)
    return gated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum("n_red").cast("bigint").alias("n_redactions"),
    )


@query(
    "lang_tokenizer_fertility",
    oracle="""
WITH c AS (
  SELECT lang,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+'))
           AS n_bpe,
         len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_words
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       round(sum(n_bpe) / CAST(sum(n_words) AS DOUBLE), 6) AS fertility
FROM c GROUP BY lang
""",
)
def q_lang_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (BPE-ish tokens per whitespace
    word) — the metric multilingual-corpus teams track to spot
    languages a tokenizer fragments (high fertility = more compute per
    word, worse effective context). Pure map-side regexp counting into
    one per-language aggregate; at 100 TB this is a scan + 5-row
    reduce."""
    d = _docs(spark, sf_dir)
    from sparktrends_spark.text.analysis import BPE_PRETOKEN_RE

    low = F.lower(F.col("text"))
    c = d.select(
        "lang",
        F.size(F.regexp_extract_all(low, F.lit(BPE_PRETOKEN_RE), 0)).alias(
            "n_bpe"
        ),
        F.size(tokens(F.col("text"))).alias("n_words"),
    )
    return c.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.round(
            F.sum("n_bpe") / F.sum("n_words").cast("double"), 6
        ).alias("fertility"),
    )


_SPAN_DECON_ORACLE = f"""
WITH {_SPANS_PREFIX},
bench AS (SELECT DISTINCT h FROM h WHERE doc_id % 10 = 0),
dp AS (
  SELECT doc_id, p, p + {_SPAN_K} - 1 AS e
  FROM h JOIN bench USING (h)
  WHERE doc_id % 10 != 0
),
{_SPANS_MERGE},
perdoc AS (
  SELECT doc_id,
         count(*) AS n_contaminated_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS contaminated_words
  FROM spans GROUP BY doc_id
)
SELECT b.doc_id, b.n AS n_words,
       coalesce(n_contaminated_spans, 0) AS n_contaminated_spans,
       coalesce(contaminated_words, 0) AS contaminated_words,
       round(coalesce(contaminated_words, 0) / CAST(b.n AS DOUBLE), 6)
         AS contamination_frac,
       coalesce(contaminated_words, 0) / CAST(b.n AS DOUBLE) > 0.2
         AS should_drop
FROM b LEFT JOIN perdoc USING (doc_id)
WHERE b.doc_id % 10 != 0
"""


@query("doc_span_decontaminate", oracle=_SPAN_DECON_ORACLE)
def q_doc_span_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination: a training doc's word
    position is contaminated when its K-shingle appears ANYWHERE in
    the benchmark set (here: doc_id % 10 == 0 stands in for the eval
    suite), and overlapping hits merge into maximal spans — finer
    than doc-level n-gram screening (doc_decontaminate): it localizes
    WHICH text leaked and how much, and drops a doc only past a 20%
    contamination threshold instead of on any single collision.

    Scale shape: identical to doc_dup_spans except the flagging join —
    training positions semi-join the (distinct) benchmark shingle
    hashes, which in a real deployment is a small broadcastable set
    rather than the corpus-wide hash marginal."""
    d = _docs(spark, sf_dir)
    base, hashed = _hashed_positions(d)
    bench = (
        hashed.filter(F.col("doc_id") % 10 == 0).select("h").distinct()
    )
    dp = (
        hashed.filter(F.col("doc_id") % 10 != 0)
        .join(bench, "h", "left_semi")
        .select("doc_id", "p", (F.col("p") + _SPAN_K - 1).alias("e"))
    )
    spans = _merge_spans(dp)
    perdoc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_contaminated_spans"),
        F.sum(F.col("e") - F.col("s") + 1)
        .cast("bigint")
        .alias("contaminated_words"),
    )
    frac = F.coalesce("contaminated_words", F.lit(0)) / F.col(
        "n_words"
    ).cast("double")
    return (
        base.filter(F.col("doc_id") % 10 != 0)
        .select("doc_id", F.col("n").alias("n_words"))
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce("n_contaminated_spans", F.lit(0)).alias(
                "n_contaminated_spans"
            ),
            F.coalesce("contaminated_words", F.lit(0)).alias(
                "contaminated_words"
            ),
            F.round(frac, 6).alias("contamination_frac"),
            (frac > 0.2).alias("should_drop"),
        )
    )


_DSIR_BETA = 200.0
_DSIR_BASE_RATE = 0.5

_DSIR_SAMPLE_ORACLE = f"""
WITH {_DSIR_CTES},
probs AS (
  SELECT doc_id, n_tokens, in_target,
         round(least(1.0, {_DSIR_BASE_RATE} * exp({_DSIR_BETA} * llr_raw)), 6)
           AS p_keep,
         (CAST(concat('0x',
               substr(md5(concat('dsir|', CAST(doc_id AS VARCHAR))), 1, 8))
             AS BIGINT) % 1000000) / 1000000.0 AS u
  FROM scored
)
SELECT doc_id, n_tokens, in_target, p_keep, (u < p_keep) AS kept
FROM probs
"""


@query("doc_importance_sample", oracle=_DSIR_SAMPLE_ORACLE)
def q_doc_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance RESAMPLING applied (the second half of DSIR): each
    document is kept with probability min(1, base_rate *
    exp(beta * llr_per_token)) — upsampling target-like documents,
    downsampling the rest — using a salted-md5 uniform per doc so the
    draw is deterministic, engine-independent, and seed-stable across
    reruns (the same property doc_stratified_sample uses). p_keep is
    quantized to 6 decimals BEFORE the comparison so the keep verdict
    can't flip on cross-engine exp() ULP differences.

    Scale shape: the DSIR scoring dataflow (shared helper) plus one
    map-only projection — the sampler adds zero shuffles."""
    scored = _dsir_scored(spark, sf_dir)
    p_keep = F.round(
        F.least(
            F.lit(1.0),
            F.lit(_DSIR_BASE_RATE) * F.exp(F.lit(_DSIR_BETA) * F.col("llr_raw")),
        ),
        6,
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dsir|"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000000
    ) / 1000000.0
    return scored.select(
        "doc_id",
        "n_tokens",
        "in_target",
        p_keep.alias("p_keep"),
        (u < p_keep).alias("kept"),
    )


@query(
    "corpus_bpe_pair_counts",
    oracle="""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
vocab AS (SELECT tok, count(*) AS wc FROM toks GROUP BY tok),
pairs AS (
  SELECT substr(tok, i, 2) AS pair, wc
  FROM vocab, unnest(range(1, len(tok))) AS t(i)
  WHERE len(tok) >= 2
),
agg AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n_occurrences FROM pairs GROUP BY pair)
SELECT pair, n_occurrences FROM agg
ORDER BY n_occurrences DESC, pair
LIMIT 50
""",
)
def q_corpus_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed primitive of BPE tokenizer training: corpus-wide
    adjacent-character pair frequencies, computed over the DISTINCT
    word vocabulary weighted by word count — the classic trick that
    makes merge-step counting O(|vocab|) instead of O(|corpus|)
    (identical totals, since pair occurrences factor through words).
    Returns the top-50 merge candidates.

    Scale shape: one word-count aggregate (map-side combined), a pure
    JVM character fan-out over the small vocab, one pair aggregate,
    TakeOrderedAndProject for the cut."""
    d = _docs(spark, sf_dir)
    vocab = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = (
        vocab.filter(F.length("tok") >= 2)
        .select(
            F.col("wc"),
            F.expr("explode(sequence(1, length(tok) - 1))").alias("i"),
            F.col("tok"),
        )
        .select(F.expr("substring(tok, i, 2)").alias("pair"), "wc")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("bigint").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(50)
    )


_SPAN_DECON_REMOVED_ORACLE = f"""
WITH {_SPANS_PREFIX},
bench AS (SELECT DISTINCT h FROM h WHERE doc_id % 10 = 0),
dp AS (
  SELECT doc_id, p, p + {_SPAN_K} - 1 AS e
  FROM h JOIN bench USING (h)
  WHERE doc_id % 10 != 0
),
{_SPANS_MERGE},
cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS p FROM spans),
tp AS (
  SELECT doc_id, toks, n, unnest(range(0, n)) AS p
  FROM b WHERE doc_id % 10 != 0
),
tok AS (SELECT doc_id, n, p, toks[p + 1] AS tok FROM tp),
kept AS (SELECT doc_id, n, p, tok FROM tok ANTI JOIN cov USING (doc_id, p)),
cl AS (
  SELECT doc_id, count(*) AS kept_words,
         string_agg(tok, ' ' ORDER BY p) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, b.n AS n_words,
       coalesce(kept_words, 0) AS kept_words,
       b.n - coalesce(kept_words, 0) AS removed_words,
       md5(coalesce(cleaned, '')) AS cleaned_fp
FROM b LEFT JOIN cl USING (doc_id)
WHERE b.doc_id % 10 != 0
"""


@query("doc_span_decontaminate_removed", oracle=_SPAN_DECON_REMOVED_ORACLE)
def q_doc_span_decontaminate_removed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontamination APPLIED: cut the exact benchmark-leaked spans
    out of every training document and fingerprint the surviving
    text — the surgical alternative to dropping whole documents
    (doc_span_decontaminate reports; this one operates). Shares the
    flagging join with the report query and the order-preserving
    removal machinery with doc_dup_spans_removed; the oracle hashes
    the cleaned bytes exactly."""
    base, hashed = _hashed_positions(_docs(spark, sf_dir))
    bench = (
        hashed.filter(F.col("doc_id") % 10 == 0).select("h").distinct()
    )
    dp = (
        hashed.filter(F.col("doc_id") % 10 != 0)
        .join(bench, "h", "left_semi")
        .select("doc_id", "p", (F.col("p") + _SPAN_K - 1).alias("e"))
    )
    spans = _merge_spans(dp)
    covered = spans.select(
        "doc_id", F.explode(F.sequence("s", "e")).alias("p")
    )
    train = base.filter(F.col("doc_id") % 10 != 0)
    toks_pos = train.select(
        "doc_id", F.posexplode("toks").alias("p", "tok")
    )
    kept = toks_pos.join(covered, ["doc_id", "p"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_words"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("cleaned"),
    )
    return (
        train.select("doc_id", F.col("n").alias("n_words"))
        .join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce("kept_words", F.lit(0)).alias("kept_words"),
            (F.col("n_words") - F.coalesce("kept_words", F.lit(0))).alias(
                "removed_words"
            ),
            F.md5(F.coalesce("cleaned", F.lit(""))).alias("cleaned_fp"),
        )
    )


@query(
    "doc_hybrid_rrf",
    oracle=f"""
WITH {_HASH_EMBED_CTES.strip()},
e AS (SELECT doc_id, raw, nrm FROM n WHERE nrm > 0),
q AS (SELECT doc_id AS query_id, raw AS qv, nrm AS qn FROM e WHERE doc_id < 10),
sem_scored AS (
  SELECT query_id, e.doc_id,
         round(list_dot_product(qv, raw) / (qn * nrm), 6) AS cosine
  FROM e, q WHERE e.doc_id != query_id
),
sem AS (
  SELECT query_id, doc_id, rnk AS rank_sem FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rnk
    FROM sem_scored
  ) WHERE rnk <= 20
),
tk AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
dterm AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM tk),
qterm AS (SELECT doc_id AS query_id, term FROM dterm WHERE doc_id < 10),
lex_scored AS (
  SELECT q.query_id, d.doc_id, CAST(count(*) AS BIGINT) AS shared
  FROM qterm q JOIN dterm d ON d.term = q.term AND d.doc_id != q.query_id
  GROUP BY q.query_id, d.doc_id
),
lex AS (
  SELECT query_id, doc_id, rnk AS rank_lex FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY shared DESC, doc_id) AS rnk
    FROM lex_scored
  ) WHERE rnk <= 20
),
fused AS (
  SELECT COALESCE(s.query_id, l.query_id) AS query_id,
         COALESCE(s.doc_id, l.doc_id) AS doc_id,
         round(COALESCE(1.0 / (60 + s.rank_sem), 0.0)
               + COALESCE(1.0 / (60 + l.rank_lex), 0.0), 6) AS rrf
  FROM sem s FULL OUTER JOIN lex l
    ON s.query_id = l.query_id AND s.doc_id = l.doc_id
)
SELECT query_id, doc_id, rrf, rnk FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk
  FROM fused
) WHERE rnk <= 5
""",
)
def q_doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion — the RAG-pipeline
    primitive that merges a SEMANTIC ranking (in-plan hash-embedding
    cosine, `doc_embedding_topk`'s dataflow, top-20) with a LEXICAL
    ranking (distinct shared-term counts — integer-exact, no float
    aggregation-order risk — top-20) as
    rrf = Σ 1/(60 + rank_list), then re-ranks the union to a top-5
    per query. Candidates in one list only contribute that list's
    term (standard RRF). Both rankings round/tiebreak before ranking
    so the fusion is engine-stable.

    Scale shape: the semantic side is the broadcast brute-force ranker
    (corpus never shuffles; swap in the LSH/IVF ranker at scale); the
    lexical side is a term-keyed equi-join of 10 query docs' distinct
    terms against the corpus term table — bucket-keyed, never
    all-pairs; fusion joins two ≤ (queries × 20)-row frames."""
    from sparktrends_spark.caching import persist_tracked
    from sparktrends_spark.similarity.cosine import brute_force_topk

    d = _docs(spark, sf_dir)
    e = persist_tracked(
        hash_embed_vectors(spark, sf_dir).filter(F.col("nrm") > 0)
    )
    queries = e.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), F.col("raw")
    )
    sem = brute_force_topk(
        queries, e, k=20, query_id="query_id", cand_id="doc_id", vec_col="raw"
    ).select("query_id", "doc_id", F.col("rnk").alias("rank_sem"))

    dterm = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .distinct()
    )
    qterm = dterm.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), "term"
    )
    lex_scored = (
        qterm.join(
            dterm.withColumnRenamed("doc_id", "cand_id"), "term"
        )
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", F.col("cand_id").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.desc("shared"), F.asc("doc_id")
    )
    lex = (
        lex_scored.withColumn("rank_lex", F.row_number().over(wl))
        .filter(F.col("rank_lex") <= 20)
        .select("query_id", "doc_id", "rank_lex")
    )
    fused = sem.join(lex, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.round(
            F.coalesce(1.0 / (F.lit(60) + F.col("rank_sem")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(60) + F.col("rank_lex")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(wf).cast("long"))
        .filter(F.col("rnk") <= 5)
    )


@query(
    "doc_weighted_sample",
    oracle="""
WITH keyed AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS weight,
         round(
           ln((CAST(concat('0x', substr(md5(concat('wsample|',
                     CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) + 1.0)
              / 1152921504606846977.0)
           / CAST(length(text) AS BIGINT), 6) AS priority
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, weight, priority
FROM keyed
ORDER BY priority DESC, doc_id
LIMIT 100
""",
)
def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size weighted sampling WITHOUT replacement (top-100 by
    length) via the Efraimidis-Spirakis exponential-key scheme: each
    doc draws priority ln(u)/w (monotone in u^(1/w)) from a salted-md5
    uniform and the sample is the global top-k — the one-pass,
    shuffle-light way to draw a size-exact weighted sample at corpus
    scale (Efraimidis & Spirakis, "Weighted random sampling with a
    reservoir", IPL 2006 — public paper). Salt 'wsample|' keeps the
    draw independent of the stratified/DSIR draws.

    Scale shape: one map-side projection + a TakeOrderedAndProject —
    per-partition top-k then a k-row merge at the driver-side sort;
    no full shuffle, no rand() nondeterminism, identical sample on
    any partitioning. Float discipline: priority is quantized to 6
    decimals BEFORE ranking (the doc_importance_sample recipe) so
    cross-engine ln() ULP drift cannot flip the cut; ties break by
    doc_id in both engines."""
    d = _docs(spark, sf_dir).where(F.length("text") > 0)
    w = F.length("text").cast("long")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsample|"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    # u in (0, 1]: (h + 1) / (16^15 + 1); ln(u) <= 0, so priority
    # rises toward 0 as the weight grows — heavy docs win.
    u = (h + F.lit(1.0)) / F.lit(float(16**15 + 1))
    priority = F.round(F.log(u) / w, 6)
    return (
        d.select("doc_id", w.alias("weight"), priority.alias("priority"))
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(100)
    )


_IDX_PROBES = ("query", "window", "merge")


@query(
    "doc_term_lookup_indexed",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
t AS (SELECT doc_id, unnest(toks) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
probe AS (
  SELECT doc_id, term, tf FROM tf
  WHERE term IN ('{_IDX_PROBES[0]}', '{_IDX_PROBES[1]}', '{_IDX_PROBES[2]}')
),
per AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(tf) AS BIGINT) AS total_tf
  FROM probe GROUP BY term
),
ad AS (
  SELECT doc_id FROM probe GROUP BY doc_id HAVING count(DISTINCT term) = 3
)
SELECT * FROM per
UNION ALL
SELECT '__and__' AS term,
       CAST((SELECT count(*) FROM ad) AS BIGINT) AS n_docs,
       CAST((SELECT sum(p.tf) FROM probe p JOIN ad USING (doc_id)) AS BIGINT)
         AS total_tf
""",
)
def q_doc_term_lookup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index SERVING: materialize the inverted index (doc_id,
    term, tf) PARTITIONED BY a term-hash bucket, then answer a
    3-term lookup — per-term posting stats plus the AND-intersection
    (docs containing all three) — from the index with PARTITION
    PRUNING: the probe buckets are computed from the same hash, so
    the scan opens only the probed terms' bucket directories, never
    the full index. The oracle recomputes from raw documents, proving
    the index round-trip is lossless. Completes the retrieval family:
    BM25 scores, RRF fuses, this SERVES.

    Scale shape: the index build is the tf shuffle the tfidf query
    already pays, written once (partitionBy = one extra sort within
    write tasks); every lookup after that is O(probed buckets) IO.
    The two aggregates (per-term and intersection) re-read the PRUNED
    index files, not the tokenization pipeline — re-reading an index
    is exactly what an index is for, so no persist is needed."""
    import os
    import shutil

    dest = scratch_path("invidx", sf_dir, "terms")
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    d = _docs(spark, sf_dir)
    terms = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf.withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(16))
    ).write.partitionBy("term_bucket").mode("overwrite").parquet(dest)

    # probe buckets via the same hash — a bounded 3-row collect
    buckets = [
        r.b
        for r in spark.createDataFrame(
            [(t,) for t in _IDX_PROBES], "term string"
        )
        .select(F.pmod(F.xxhash64("term"), F.lit(16)).alias("b"))
        .collect()
    ]
    served = spark.read.parquet(dest)
    probe = served.where(
        F.col("term_bucket").isin(*buckets) & F.col("term").isin(*_IDX_PROBES)
    )
    per = probe.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tf").cast("bigint").alias("total_tf"),
    )
    anddocs = (
        probe.groupBy("doc_id")
        .agg(F.countDistinct("term").alias("_nt"))
        .where(F.col("_nt") == len(_IDX_PROBES))
        .select("doc_id")
    )
    androw = (
        probe.join(anddocs, "doc_id")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum("tf").cast("bigint").alias("total_tf"),
        )
        .select(F.lit("__and__").alias("term"), "n_docs", "total_tf")
    )
    return per.unionByName(androw)


@query(
    "doc_bigram_pmi",
    oracle="""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
),
uni AS (
  SELECT unnest(t) AS w FROM toks
),
ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_tokens FROM uni),
big AS (
  SELECT z[1] AS w1, z[2] AS w2
  FROM toks, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(z)
),
bcnt AS (SELECT w1, w2, count(*) AS c_xy FROM big GROUP BY w1, w2),
m AS (SELECT CAST(count(*) AS DOUBLE) AS n_bigrams FROM big),
scored AS (
  SELECT b.w1, b.w2, b.c_xy,
         round(ln(CAST(b.c_xy AS DOUBLE) * n.n_tokens * n.n_tokens
                  / (m.n_bigrams * CAST(u1.c AS DOUBLE)
                     * CAST(u2.c AS DOUBLE))), 6) AS pmi
  FROM bcnt b
  JOIN ucnt u1 ON u1.w = b.w1
  JOIN ucnt u2 ON u2.w = b.w2
  CROSS JOIN n CROSS JOIN m
  WHERE b.c_xy >= 20
)
SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy, pmi,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rnk
  FROM scored
) WHERE rnk <= 20
""",
)
def q_doc_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 corpus bigrams by pointwise mutual
    information (min count 20) — the statistic behind phrase
    detection in tokenizer/embedding pipelines (word2vec's phrase
    pass). Counts are exact integers; the PMI expression is ONE fixed
    shape both engines evaluate identically on exact double-converted
    counts (round-6 before rank, ties by the bigram itself). The
    unigram table joins by key — no broadcast hint: the vocabulary is
    the one frame that grows with corpus text diversity (the BM25
    lesson), so AQE picks the strategy by measured size. The top-20 is
    orderBy().limit() — TakeOrderedAndProject, a per-partition top-k
    merged on the driver — NOT a global row_number window, which would
    move every surviving bigram (unbounded in corpus diversity) into
    one task; rank is derived INSIDE the 20-row result by one
    sort_array pass, so no WindowExec appears anywhere in the plan."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    big = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t") - 1),
            )
        ).alias("z")
    ).select(F.col("z.0").alias("w1"), F.col("z.1").alias("w2"))
    uni = toks.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n = uni.agg(F.count(F.lit(1)).cast("double").alias("n_tokens"))
    bcnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    m = big.agg(F.count(F.lit(1)).cast("double").alias("n_bigrams"))
    scored = (
        bcnt.where(F.col("c_xy") >= 20)
        .join(ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(n)
        .crossJoin(m)
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            F.round(
                F.log(
                    F.col("c_xy").cast("double")
                    * F.col("n_tokens")
                    * F.col("n_tokens")
                    / (
                        F.col("n_bigrams")
                        * F.col("c1").cast("double")
                        * F.col("c2").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(20)
    # rank within the 20-row result: one single-row aggregate +
    # posexplode (collect_list order is nondeterministic — sort_array
    # re-establishes the total order; pmi negated for the descending
    # leg, ties impossible past (w1, w2))
    ranked = top.groupBy().agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("pmi")).alias("np"),
                    F.col("w1"),
                    F.col("w2"),
                    F.col("c_xy"),
                    F.col("pmi"),
                )
            )
        ).alias("a")
    )
    return ranked.select(
        F.posexplode("a").alias("pos", "s")
    ).select(
        F.col("s.w1").alias("w1"),
        F.col("s.w2").alias("w2"),
        F.col("s.c_xy").alias("c_xy"),
        F.col("s.pmi").alias("pmi"),
        (F.col("pos") + 1).cast("bigint").alias("rnk"),
    )


@query(
    "doc_length_quantile_norm",
    oracle="""
WITH q AS (
  SELECT doc_id, source, n_chars,
         ntile(10) OVER (PARTITION BY source
                         ORDER BY n_chars, doc_id) AS qrank
  FROM documents
),
ref AS (
  SELECT qrank,
         CAST(sum(CAST(n_chars AS DECIMAL(27,0))) AS DOUBLE)
           / count(n_chars) AS norm_value
  FROM q GROUP BY qrank
)
SELECT q.doc_id, q.source, q.n_chars, CAST(q.qrank AS BIGINT) AS qrank,
       ref.norm_value
FROM q JOIN ref USING (qrank)
""",
)
def q_doc_length_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources — the batch-effect
    correction a mixed-provenance training corpus needs before
    length-based curation thresholds can be shared: each document's
    length maps to the GLOBAL mean of its within-source decile, so
    every source's length distribution becomes comparable. Determinism:
    ntile over a total order (n_chars, doc_id); reference values are
    exact decimal-sum means (one deterministic division). The deciles
    frame is 10 rows — broadcast back onto the docs; one window
    exchange on source end-to-end."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    w = Window.partitionBy("source").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    q = d.withColumn("qrank", F.ntile(10).over(w).cast("bigint"))
    ref = q.groupBy("qrank").agg(
        (
            F.sum(F.col("n_chars").cast("decimal(27,0)")).cast("double")
            / F.count("n_chars")
        ).alias("norm_value")
    )
    return q.join(F.broadcast(ref), "qrank").select(
        "doc_id", "source", "n_chars", "qrank", "norm_value"
    )


@query(
    "corpus_shard_manifest",
    oracle="""
WITH assigned AS (
  SELECT n_chars,
         CAST(CAST(concat('0x', substr(md5(concat('shard:r11:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
         md5(concat('order:r11:', CAST(doc_id AS VARCHAR))) AS order_key,
         CAST(concat('0x', substr(md5(concat('m:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS mh
  FROM documents
)
SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_weight,
       min(CAST(concat('0x', substr(order_key, 1, 8)) AS BIGINT)) AS min_order_u32,
       max(CAST(concat('0x', substr(order_key, 1, 8)) AS BIGINT)) AS max_order_u32,
       CAST(sum(mh) AS BIGINT) AS member_checksum
FROM assigned GROUP BY shard
""",
)
def q_corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard manifest (north-star export side):
    content-free md5 assignment into 8 shards + a within-shard shuffle
    key, aggregated to the per-shard manifest a trainer (or a second
    export run, via the order-free membership checksum) validates
    against. Pure projection + ONE hash-agg shuffle on shard; the
    physical ``partitionBy("shard")`` writer shares this exact
    assignment (``text/shards.py``, pytest-verified file layout)."""
    from sparktrends_spark.text.shards import shard_assignments, shard_manifest

    a = shard_assignments(_docs(spark, sf_dir), n_shards=8, salt="r11")
    return shard_manifest(a, weight_col="n_chars")
