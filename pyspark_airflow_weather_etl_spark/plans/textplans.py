"""Text-analysis and dedup query catalog over the ``documents`` table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import SQL_AVG, avg_of
from ..operators import dedup as D
from ..operators import text as X
from ..sources.tables import load_table
from .registry import register

# SQL fragment: distinct-token list of a document (DuckDB).
_SQL_TOKENS = "list_distinct(string_split(text, ' '))"
# SQL fragment: 3-gram shingle list (mirrors operators.text.shingles).
_SQL_SHINGLES = (
    "list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)), "
    "i -> concat_ws(' ', string_split(text,' ')[i], "
    "string_split(text,' ')[i+1], string_split(text,' ')[i+2]))"
)


def _sql_lang_case() -> str:
    """CASE chain mirroring operators.text.lang_id (same tie-break)."""
    hits = {
        lang: f"len(list_intersect({_SQL_TOKENS}, "
        f"[{', '.join(repr(w) for w in words)}]))"
        for lang, words in X.STOPWORDS.items()
    }
    mx = f"greatest({', '.join(hits.values())})"
    whens = "\n".join(
        f"WHEN {hits[lang]} = {mx} AND {mx} > 0 THEN '{lang}'"
        for lang in X.STOPWORDS
    )
    return f"CASE {whens} ELSE 'und' END"


@register(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(text) AS fingerprint,
           len(string_split(text, ' ')) AS n_tokens,
           length(text) AS n_chars_computed
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 digest + token count per doc —
    the exact-dedup key projection. Pure codegen, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.fingerprint("text").alias("fingerprint"),
        X.token_count("text").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
    )


@register(
    "text_quality_features",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_computed,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(list_aggregate(list_transform(string_split(text, ' '),
                                              x -> length(x)), 'sum') AS DOUBLE)
             / len(string_split(text, ' ')) AS mean_token_len,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) AS distinct_ratio,
           md5(text) AS fingerprint
    FROM documents
    """,
)
def text_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features (length / token stats / repetition
    ratio / fingerprint) — the standard pre-training quality-filter
    inputs, all integer-exact arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    out = X.quality_features(docs, "text")
    return out.select(
        "doc_id",
        F.col("n_chars_computed").cast("long"),
        F.col("n_tokens").cast("long"),
        "mean_token_len",
        "distinct_ratio",
        "fingerprint",
    )


@register(
    "lang_id_documents",
    oracle=f"""
    SELECT doc_id, lang AS lang_label, {_sql_lang_case()} AS lang_pred
    FROM documents
    """,
)
def lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID per document. The fixture corpus
    is synthetic (its `lang` column is a label, not real language), so
    the honest heuristic returns 'und' here — tests/test_text.py
    checks real-language detection on real sentences."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        X.lang_id("text").alias("lang_pred"),
    )


@register(
    "token_frequency",
    oracle="""
    SELECT token,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)
    GROUP BY token
    """,
)
def token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term/document frequency: explode → two-level aggregate.
    Partial aggregation collapses each partition's token counts before
    the shuffle, so the shuffle is vocabulary-sized, not corpus-sized."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(X.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@register(
    "lang_source_rollup",
    oracle=f"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           {SQL_AVG('n_chars', 'avg_chars')}
    FROM documents
    GROUP BY lang, source
    """,
)
def lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup per (lang, source)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        avg_of("n_chars", "avg_chars"),
    )


@register(
    "dedup_exact_documents",
    oracle="""
    SELECT md5(text) AS fingerprint,
           min(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the md5 fingerprint, min-id
    canonical representative (operators.dedup.exact_duplicates)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_duplicates(docs, "doc_id", "text")


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS shingle
      FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           n_common * 1.0 / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs (≥0.5) via an
    inverted-index self-join — the brute-force ground truth that the
    MinHash-LSH path (minhash_near_dup_pairs) is measured against."""
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(docs, "doc_id", "text", threshold=0.5, n=3)


@register(
    "ngram_jaccard_pairs_capped",
    oracle=f"""
    WITH sh_all AS (
      SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS shingle
      FROM documents
    ), sh AS (
      SELECT doc_id, shingle FROM sh_all
      WHERE shingle NOT IN (
        SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 5
      )
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           n_common * 1.0 / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
    """,
)
def ngram_jaccard_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-shingle-pruned exact Jaccard: shingles with document
    frequency > 5 are dropped from every shingle set before the
    postings self-join (df·(df−1)/2 pairs per shingle makes hot
    shingles quadratic — the cap is the 100 TB feasibility knob).
    Jaccard is computed over the pruned shingle space on both engines,
    so the oracle encodes the identical cap."""
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(docs, "doc_id", "text", threshold=0.5, n=3, max_df=5)


@register(
    "regex_token_stats",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             AS n_bpe_tokens
    FROM documents
    """,
)
def regex_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    segmentation (letter runs / digit runs / single punctuation) — the
    pre-tokenizer split every BPE-family tokenizer applies first."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
        .cast("long")
        .alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        )
        .cast("long")
        .alias("n_bpe_tokens"),
    )


_SQL_SHINGLE_HASHES = (
    "list_transform("
    + _SQL_SHINGLES
    + ", s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT))"
)


@register(
    "winnowing_fingerprints",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hs FROM documents
    ), fps AS (
      SELECT doc_id,
             list_distinct(CASE
               WHEN len(hs) >= 4 THEN
                 list_transform(range(1, len(hs) - 2),
                                i -> list_aggregate(hs[i:i+3], 'min'))
               WHEN len(hs) > 0 THEN [list_aggregate(hs, 'min')]
               ELSE [] END) AS fp
      FROM hashed
    )
    SELECT doc_id, unnest(fp) AS fingerprint FROM fps
    """,
)
def winnowing_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling fingerprints: min md5-prefix hash per
    sliding window of 4 shingle hashes, deduplicated — any shared
    token run of ≥ 6 tokens between documents is guaranteed to share
    a fingerprint. The md5-based hash keeps the fingerprints
    reproducible by external systems (and by the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.winnowing_fingerprints(docs, "doc_id", "text", n=3, window=4)


@register(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ), idf AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, tf.token,
             round(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
      FROM tf JOIN idf ON tf.token = idf.token CROSS JOIN n
    )
    SELECT doc_id, token, tfidf, rnk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY tfidf DESC, token) AS INT) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: term frequency × inverse document frequency, top-3
    terms per document. The IDF side is vocabulary-sized, so it
    broadcasts back onto the TF side — no large shuffle at corpus
    scale. ln() rounded to 6 dp (libm ulp differences)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(X.tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    idf = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # Corpus size as a broadcast single-row aggregate cross-joined in
    # (the scalar_math_order_buckets pattern) — one job, no separate
    # driver-side count() action.
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(idf), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "token", "tfidf", "rnk")
    )


@register(
    "array_functions_tokens",
    oracle="""
    SELECT doc_id,
           list_contains(string_split(text, ' '), 'spark') AS has_spark,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
           array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3],
                           '|') AS first3_sorted,
           string_split(text, ' ')[1] AS head_token,
           string_split(text, ' ')[-1] AS last_token
    FROM documents
    """,
)
def array_functions_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/collection function surface: membership, distinct size,
    sort + slice + join, head/tail element access — all higher-order
    built-ins over the token array."""
    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    return docs.select(
        "doc_id",
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_size(F.array_distinct(toks)).alias("n_distinct"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct(toks)), 1, 3), "|"
        ).alias("first3_sorted"),
        F.element_at(toks, 1).alias("head_token"),
        F.element_at(toks, -1).alias("last_token"),
    )


@register(
    "udtf_token_positions",
    oracle="""
    SELECT doc_id, s.word, s.pos FROM (
      SELECT doc_id,
             unnest(list_transform(string_split(text, ' '),
                    (w, i) -> struct_pack(word := w,
                                          pos := CAST(i - 1 AS INT)))) AS s
      FROM documents WHERE doc_id < 50)
    """,
)
def udtf_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function): one input row → N output
    rows with positions. The same expansion is a built-in posexplode —
    shown here as a UDTF to cover the extension point; keep UDTFs off
    hot paths (row-at-a-time Python) and prefer posexplode/explode."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, word: string, pos: int")
    class TokenPositions:
        def eval(self, row):  # TABLE arg arrives as one Row
            for i, w in enumerate(row.text.split(" ")):
                yield (row.doc_id, w, i)

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return TokenPositions(docs.select("doc_id", "text").asTable()).toDF(
        "doc_id", "word", "pos"
    )


@register(
    "variant_props_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) % 10 = 3
    """,
)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): parse_json once into a
    binary variant, then typed variant_get extraction — the
    shredded-JSON storage model for open-ended schemas (vs from_json,
    which needs the schema up front)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select("event_id", k.alias("k"), (k % 10).alias("k_mod"))
        .where(F.col("k_mod") == 3)
    )


@register(
    "dedup_clusters_jaccard",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS shingle
      FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) j JOIN sizes sa ON sa.doc_id = j.id_a
           JOIN sizes sb ON sb.doc_id = j.id_b
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
    ), sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT u AS a, u AS b FROM sym
      UNION
      SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
    )
    SELECT a AS node, min(b) AS component,
           CAST(a = min(b) AS BOOLEAN) AS is_canonical
    FROM reach GROUP BY a
    """,
)
def dedup_clusters_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters over exact-Jaccard near-dup pairs:
    the engine's DEFAULT large-star/small-star contraction
    (operators.graph.connected_components algorithm='star' — O(log)
    rounds for any graph diameter; label propagation remains the A/B
    path and both are benched as dedup_clusters_star/_label)
    hash-checked against DuckDB's recursive-CTE transitive closure —
    two entirely different algorithms for the same components."""
    from ..operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "doc_id", "text", threshold=0.5, n=3)
    return dedup_clusters(pairs)


@register("minhash_near_dup_pairs")  # xxhash64 signatures: no SQL oracle
def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms) + LSH(8 bands × 4) candidate generation with
    exact-Jaccard verification at ≥0.5. Rows-only driver check;
    tests/test_dedup.py asserts precision=1 and recall vs
    ngram_jaccard_pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)


@register("simhash_documents")  # xxhash64-based: no SQL oracle
def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (token-frequency bit
    votes). Rows-only driver check; tests assert identical texts hash
    identically and near-dups stay Hamming-close."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs, "doc_id", "text")


_SIMHASH_PORTABLE_ORACLE = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
      FROM tok
    ), votes AS (
      SELECT doc_id, b.i AS i,
             SUM(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN (SELECT unnest(range(60)) AS i) b
      GROUP BY doc_id, b.i
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """


@register("simhash_portable_documents", oracle=_SIMHASH_PORTABLE_ORACLE)
def simhash_portable_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Portable 60-bit SimHash (operators.dedup.simhash_portable):
    md5-prefix token hashes replace xxhash64, so the fingerprint is
    reproducible by ANY engine — the DuckDB oracle replays bit
    votes, signs, and the packed long bit-for-bit, giving the
    SimHash family its hash-exact member next to the
    engine-internal simhash_documents."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_portable(docs, "doc_id", "text")


@register(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')) AS normalized
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training text normalization: lowercase → strip
    non-alphanumerics → collapse whitespace → trim. Pure codegen
    regexp chain (patterns restricted to the RE2∩Java-regex common
    subset so both engines agree byte-for-byte)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
                " +",
                " ",
            )
        ).alias("normalized"),
    )


@register(
    "pii_scrub",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or +1-555-000-' || doc_id || ' now' AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               raw,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
               '<EMAIL>', 'g'),
             '\\+?[0-9][0-9()\\-]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed
    FROM aug
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: emails and phone numbers
    masked with typed placeholders. The fixture corpus carries no PII,
    so both engines first append a synthesized contact line (same
    expression), then scrub it — the interesting bit is the masking
    regexes, which stay inside the RE2∩Java common subset (no
    backrefs, no lookaround) so the engines agree exactly."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-000-"),
            F.col("doc_id").cast("string"),
            F.lit(" now"),
        ).alias("raw"),
    )
    return aug.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.col("raw"),
                r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
                "<EMAIL>",
            ),
            r"\+?[0-9][0-9()\-]{6,}[0-9]",
            "<PHONE>",
        ).alias("scrubbed"),
    )


@register(
    "takedown_documents",
    oracle="""
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE md5(d.text) NOT IN (
      SELECT md5(text) FROM documents WHERE doc_id IN (0, 1, 2, 3, 4)
    )
    """,
)
def takedown_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown-list enforcement (operators.governance.apply_takedown):
    the corpus minus blocklisted ids AND any byte-identical copies of
    their texts under other ids — removal keys on the content
    fingerprint, not the bookkeeping id. Broadcast semi/anti joins on
    md5 digests; the corpus never shuffles."""
    from ..operators.governance import apply_takedown

    docs = load_table(spark, sf_dir, "documents")
    blocklist = spark.range(5).select(F.col("id").alias("doc_id"))
    return apply_takedown(docs, blocklist)


@register(
    "decontaminate_documents",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars
    FROM documents
    WHERE NOT (
      ' ' || text || ' ' LIKE '% key agg row %'
      OR ' ' || text || ' ' LIKE '% batch window spark %'
    )
    """,
)
def decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (operators.governance.decontaminate):
    drop every document whose token 3-grams overlap a benchmark
    phrase — the n-gram-overlap rule that keeps eval data out of a
    training corpus. arrays_overlap against the broadcast-literal
    phrase list is one codegen scan, no join. The oracle expresses
    token-trigram containment as delimited-substring LIKE, exact
    under the fixture's single-space token contract (text.tokens)."""
    from ..operators.governance import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    return decontaminate(
        docs, ["key agg row", "batch window spark"], n=3
    )


@register(
    "stratified_sample_documents",
    oracle="""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE (source = 'src0')
       OR (source = 'src1' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80')
       OR (source = 'src2' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20')
    GROUP BY source
    """,
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix weighting (operators.governance.stratified_sample):
    keep all of src0, ~50% of src1, ~12.5% of src2, drop every other
    source — per-stratum md5-prefix thresholds, so the mix is a pure
    function of the data (stable across engines/partitionings/re-runs,
    unlike seed-based sampleBy). Rolled up per source and hash-checked
    against the same thresholds in SQL."""
    from ..operators.governance import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    sampled = stratified_sample(
        docs, "source", {"src0": 1.0, "src1": 0.5, "src2": 0.125}, "doc_id"
    )
    return sampled.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "temperature_mix_documents",
    oracle="""
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
      FROM documents GROUP BY source
    ), s AS (
      SELECT source, n, sqrt(n) AS w,
             CAST(SUM(CAST(sqrt(n) AS DECIMAL(38,18))) OVER ()
                  AS DOUBLE) AS sum_w,
             CAST(SUM(CAST(n AS DECIMAL(38,0))) OVER () AS DOUBLE) AS total
      FROM c
    ), f AS (
      SELECT source,
             round(LEAST(1.0, (w / sum_w) * 0.25 * total / n), 6) AS frac
      FROM s
    )
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN f ON d.source = f.source
    WHERE frac >= 1.0
       OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
          < printf('%04x', CAST(FLOOR(frac * 65536) AS INT))
    GROUP BY d.source
    """,
)
def temperature_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mix (operators.governance.temperature_mix,
    alpha=0.5, target 25% of the corpus): per-source keep fractions
    derived in-plan from source counts — share ∝ sqrt(n_s) — then the
    same deterministic md5-prefix keep rule as the stratified entry,
    at 16-bit resolution. The oracle recomputes shares, fractions,
    and every keep decision in SQL; hash equality of the per-source
    rollup proves the cross-engine float-parity design (sqrt +
    decimal-summed weight total) holds bit-for-bit."""
    from ..operators.governance import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    mixed = temperature_mix(
        docs, "source", "doc_id", alpha=0.5, target_fraction=0.25
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "doc_repetition_stats",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(generate_series(1, GREATEST(len(tk) - 2, 0)),
                            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
               AS grams
      FROM t)
    SELECT doc_id,
           len(grams) AS n_trigrams,
           len(list_distinct(grams)) AS n_distinct,
           round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                       / NULLIF(len(grams), 0), 6) AS dup_fraction
    FROM g
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition metrics (the Gopher-rules quality
    signal): duplicate-trigram fraction per document — high values
    mark boilerplate/spam/generated text for filtering. Pure codegen
    (token slice → trigram transform → array_distinct), no shuffle,
    no Python; the 100 TB form is identical because the work is
    per-row."""
    from ..operators.governance import ngram_phrases

    docs = load_table(spark, sf_dir, "documents")
    grams = ngram_phrases("text", 3, distinct=False)
    nt = F.array_size(grams)
    nd = F.array_size(F.array_distinct(grams))
    return docs.select(
        "doc_id",
        nt.alias("n_trigrams"),
        nd.alias("n_distinct"),
        F.when(
            nt > 0,
            F.round(1.0 - nd.cast("double") / nt, 6),
        ).alias("dup_fraction"),
    )


@register(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS shingle
      FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) j JOIN sizes sa ON sa.doc_id = j.id_a
           JOIN sizes sb ON sb.doc_id = j.id_b
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
    ), sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT u AS a, u AS b FROM sym
      UNION
      SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
    ), comp AS (
      SELECT a AS node, min(b) AS component FROM reach GROUP BY a
    ), ranked AS (
      SELECT c.node, c.component,
             row_number() OVER (
               PARTITION BY c.component
               ORDER BY d.n_chars DESC, c.node
             ) AS rn
      FROM comp c JOIN documents d ON d.doc_id = c.node
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id IN (SELECT node FROM ranked WHERE rn = 1)
       OR d.doc_id NOT IN (SELECT node FROM comp)
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup removal keeping the BEST copy: exact
    Jaccard pairs at >=0.5 -> transitive clusters (iterative label
    propagation) -> per-cluster argmax on n_chars (tie: lowest id) ->
    corpus semi-join (operators.graph.dedup_keep_best). Hash-checked
    against the recursive-CTE + window form of the same policy —
    the dedup ACTION a training pipeline ships, not just the pair
    list."""
    from ..operators.graph import dedup_keep_best

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "doc_id", "text", threshold=0.5, n=3)
    return dedup_keep_best(docs, pairs, "doc_id", "n_chars").select(
        "doc_id", "source", "n_chars"
    )


@register(
    "chunk_documents_fixed",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    c AS (
      SELECT doc_id,
             CAST(unnest(generate_series(
               1, CAST(ceil(len(tk) / 32.0) AS BIGINT))) AS INT) AS chunk_idx,
             unnest(list_transform(
               generate_series(1, CAST(ceil(len(tk) / 32.0) AS BIGINT)),
               i -> array_to_string(tk[(i-1)*32+1 : i*32], ' '))) AS chunk_text
      FROM t)
    SELECT doc_id, chunk_idx, chunk_text,
           CAST(len(string_split(chunk_text, ' ')) AS INT) AS n_tokens
    FROM c
    """,
)
def chunk_documents_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking (operators.text.chunk_documents,
    32 tokens/chunk): the sequence-prep step of a training pipeline,
    pure per-row codegen, hash-checked against a DuckDB
    list-slice/unnest oracle computing the same windows."""
    docs = load_table(spark, sf_dir, "documents")
    return X.chunk_documents(docs, "doc_id", "text", 32).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "chunk_text",
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )


@register(
    "pack_sequences_documents",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
      WHERE len(string_split(text, ' ')) > 0
    ), c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS end_offset
      FROM t
    )
    SELECT doc_id,
           n_tokens,
           CAST(end_offset - n_tokens AS BIGINT) AS start_offset,
           CAST(FLOOR((end_offset - n_tokens) / 512.0) AS BIGINT)
             AS bin_start,
           CAST(FLOOR((end_offset - 1) / 512.0) AS BIGINT) AS bin_end
    FROM c
    """,
)
def pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing into 512-token context bins
    (operators.text.pack_sequences): the global token axis is a
    distributed prefix sum — range partition on doc_id, parallel
    per-partition running totals, tiny per-partition offset table
    prefix-summed and broadcast back. The oracle replays the same
    packing as one flat window cumsum; exact equality of every
    offset/bin proves the distributed composition matches the
    sequential semantics."""
    docs = load_table(spark, sf_dir, "documents")
    return X.pack_sequences(docs, "doc_id", "text", budget=512)


@register(
    "pack_bins_documents",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
      WHERE len(string_split(text, ' ')) > 0
    ), c AS (
      SELECT doc_id, tk, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS end_offset
      FROM t
    ), spans AS (
      SELECT doc_id, tk, n_tokens,
             CAST(end_offset - n_tokens AS BIGINT) AS start_offset,
             CAST(FLOOR((end_offset - n_tokens) / 512.0) AS BIGINT)
               AS bin_start,
             CAST(FLOOR((end_offset - 1) / 512.0) AS BIGINT) AS bin_end
      FROM c
    ), pieces AS (
      SELECT start_offset,
             unnest(generate_series(bin_start, bin_end)) AS bin_id,
             tk, n_tokens
      FROM spans
    ), sliced AS (
      SELECT bin_id, start_offset,
             LEAST(n_tokens, (bin_id + 1) * 512 - start_offset)
               - GREATEST(0, bin_id * 512 - start_offset) AS piece_len,
             array_to_string(
               tk[CAST(GREATEST(0, bin_id * 512 - start_offset) + 1 AS BIGINT)
                  : CAST(LEAST(n_tokens, (bin_id + 1) * 512 - start_offset)
                         AS BIGINT)],
               ' ') AS piece
      FROM pieces
    )
    SELECT bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(piece_len) AS BIGINT) AS n_tokens,
           string_agg(piece, ' ' ORDER BY start_offset) AS bin_text
    FROM sliced
    GROUP BY bin_id
    """,
)
def pack_bins_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized 512-token context windows
    (operators.text.pack_bins): per-bin assembled text via in-plan
    slice arithmetic and an ordered aggregation. The oracle rebuilds
    every bin with DuckDB list slicing and an ORDER BY string_agg —
    exact bin_text equality proves slice boundaries, ordering, and
    the distributed prefix sum all compose correctly."""
    docs = load_table(spark, sf_dir, "documents")
    return X.pack_bins(docs, "doc_id", "text", budget=512)


def _portable_minhash_oracle() -> str:
    from ..operators.dedup import (
        PORTABLE_MINHASH_A,
        PORTABLE_MINHASH_B,
        PORTABLE_MINHASH_MOD,
    )

    lanes = ", ".join(
        f"list_aggregate(list_transform(h, x -> (x * {a} + {b}) % "
        f"{PORTABLE_MINHASH_MOD}), 'min')"
        for a, b in zip(PORTABLE_MINHASH_A, PORTABLE_MINHASH_B)
    )
    return f"""
    WITH hs AS (
      SELECT doc_id, list_distinct({_SQL_SHINGLE_HASHES}) AS h FROM documents
    ), nz AS (SELECT * FROM hs WHERE len(h) > 0),
    sigs AS (SELECT doc_id, [{lanes}] AS sig FROM nz),
    bands AS (
      SELECT doc_id, t.b AS band_idx, sig[t.b*4+1 : t.b*4+4] AS bslice
      FROM sigs, UNNEST([0, 1, 2, 3]) AS t(b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.bslice = b.bslice
       AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           len(list_intersect(x.h, y.h)) * 1.0 /
           (len(x.h) + len(y.h) - len(list_intersect(x.h, y.h))) AS jaccard
    FROM cand c JOIN nz x ON x.doc_id = c.id_a
                JOIN nz y ON y.doc_id = c.id_b
    WHERE len(list_intersect(x.h, y.h)) * 1.0 /
          (len(x.h) + len(y.h) - len(list_intersect(x.h, y.h))) >= 0.5
    """


@register("minhash_lsh_portable_pairs", oracle=_portable_minhash_oracle())
def minhash_lsh_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE MinHash-LSH pipeline hash-checked cross-engine:
    portable 32-bit shingle hashes -> 16 multiply-mod signature lanes
    -> 4 banded slice keys -> candidate equi-join -> exact-Jaccard
    verify, with arithmetic chosen so DuckDB replays every stage
    bit-for-bit (operators.dedup.portable_minhash_pairs). The
    xxhash64 family (minhash_near_dup_pairs) stays the fast path;
    this twin is the independent proof of the banding math the
    rows-only check can't give."""
    docs = load_table(spark, sf_dir, "documents")
    return D.portable_minhash_pairs(docs, "doc_id", "text", threshold=0.5)


_MINHASH_INDEX: dict[str, str] = {}


def minhash_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) and return the at-rest portable-MinHash index of
    the 'historical corpus' — the even-doc_id half of documents."""
    if sf_dir not in _MINHASH_INDEX:
        import tempfile

        docs = load_table(spark, sf_dir, "documents")
        path = tempfile.mkdtemp(prefix="minhash_index_") + "/corpus"
        D.portable_minhash_index_write(
            docs.where(F.col("doc_id") % 2 == 0), path, "doc_id", "text"
        )
        _MINHASH_INDEX[sf_dir] = path
    return _MINHASH_INDEX[sf_dir]


def _incremental_minhash_oracle() -> str:
    from ..operators.dedup import (
        PORTABLE_MINHASH_A,
        PORTABLE_MINHASH_B,
        PORTABLE_MINHASH_MOD,
    )

    lanes = ", ".join(
        f"list_aggregate(list_transform(h, x -> (x * {a} + {b}) % "
        f"{PORTABLE_MINHASH_MOD}), 'min')"
        for a, b in zip(PORTABLE_MINHASH_A, PORTABLE_MINHASH_B)
    )
    return f"""
    WITH hs AS (
      SELECT doc_id, list_distinct({_SQL_SHINGLE_HASHES}) AS h FROM documents
    ), nz AS (SELECT * FROM hs WHERE len(h) > 0),
    sigs AS (SELECT doc_id, [{lanes}] AS sig FROM nz),
    bands AS (
      SELECT doc_id, t.b AS band_idx, sig[t.b*4+1 : t.b*4+4] AS bslice
      FROM sigs, UNNEST([0, 1, 2, 3]) AS t(b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS new_id
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.bslice = b.bslice
      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
    )
    SELECT c.corpus_id, c.new_id,
           len(list_intersect(x.h, y.h)) * 1.0 /
           (len(x.h) + len(y.h) - len(list_intersect(x.h, y.h))) AS jaccard
    FROM cand c JOIN nz x ON x.doc_id = c.corpus_id
                JOIN nz y ON y.doc_id = c.new_id
    WHERE len(list_intersect(x.h, y.h)) * 1.0 /
          (len(x.h) + len(y.h) - len(list_intersect(x.h, y.h))) >= 0.5
    """


@register("minhash_dedup_incremental", oracle=_incremental_minhash_oracle())
def minhash_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl dedup against an AT-REST signature index
    (operators.dedup.portable_minhash_dedup_incremental): the
    even-doc_id half of documents plays the historical corpus —
    shingle sets + portable MinHash signatures persisted once by
    minhash_index_path — and the odd half arrives as the new batch,
    which computes only its own signatures and cross-joins bands
    against the stored ones. The oracle replays the ENTIRE pipeline
    (index construction included) in SQL, so a hash match proves the
    at-rest state is interchangeable with recomputation — per-batch
    cost O(batch), never O(corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.portable_minhash_dedup_incremental(
        docs.where(F.col("doc_id") % 2 == 1),
        minhash_index_path(spark, sf_dir),
        "doc_id",
        "text",
        threshold=0.5,
    )


@register(
    "build_vocab_documents",
    oracle="""
    WITH c AS (
      SELECT t AS token, COUNT(*) AS cnt
      FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
      GROUP BY t
    )
    SELECT token, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token)
                AS BIGINT) AS token_id
    FROM c
    QUALIFY token_id <= 500
    """,
)
def build_vocab_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary build (operators.text.build_vocab, top
    500): explode → partial/final count agg → distributed global rank
    over the vocab (frequency desc, token tiebreak) → cap. The oracle
    replays the rank as one flat ROW_NUMBER window; exact token_id
    equality proves the count agg and parallel rank compose."""
    docs = load_table(spark, sf_dir, "documents")
    return X.build_vocab(docs, "text", max_vocab=500)


_ENCODE_VOCAB_ORACLE = """
    WITH c AS (
      SELECT t AS token, COUNT(*) AS cnt
      FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
      GROUP BY t
    ), v AS (
      SELECT token,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token)
                  AS BIGINT) AS token_id
      FROM c QUALIFY token_id <= 20
    ), tk AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    )
    SELECT tk.doc_id,
           array_to_string(list(CAST(COALESCE(v.token_id, 0) AS VARCHAR)
                                ORDER BY tk.pos), ' ') AS ids_text,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM tk LEFT JOIN v ON v.token = tk.token
    GROUP BY tk.doc_id
    """


@register("encode_documents_vocab", oracle=_ENCODE_VOCAB_ORACLE)
def encode_documents_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-to-ids (operators.text.encode_documents) against a
    top-20 vocab (small on purpose so the fixture exercises real OOV
    mapping): posexplode → broadcast vocab join → one ordered-
    reassembly shuffle. The oracle rebuilds every sequence with a
    position-ordered list aggregation; exact ids_text equality proves
    vocabulary ranking, OOV handling, and reassembly order all
    compose."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = X.build_vocab(docs, "text", max_vocab=20)
    enc = X.encode_documents(docs, vocab, "doc_id", "text")
    return enc.select(
        "doc_id",
        F.array_join(
            F.transform(F.col("token_ids"), lambda t: t.cast("string")), " "
        ).alias("ids_text"),
        "n_tokens",
    )


@register(
    "feature_hash_embed_documents",
    oracle="""
    WITH tk AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), h AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT)
                  % 32 AS INT) AS dim_idx,
             CASE WHEN CAST(('0x' || substring(md5(tok), 9, 1)) AS INT)
                       % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM tk
    )
    SELECT doc_id, dim_idx, CAST(SUM(s) AS BIGINT) AS value
    FROM h
    GROUP BY doc_id, dim_idx
    HAVING SUM(s) <> 0
    """,
)
def feature_hash_embed_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Portable feature-hashing embeddings
    (operators.text.feature_hash_embed, dim 32): md5-derived bucket +
    sign per token, signed counts per (doc, bucket) — exact integer
    arithmetic, hash-checked against the DuckDB replay. The long-form
    output feeds the vector operators (SRP blocking, cosine) without
    an external model."""
    docs = load_table(spark, sf_dir, "documents")
    return X.feature_hash_embed(docs, "doc_id", "text", dim=32)


@register(
    "dedup_passages_documents",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    c AS (
      SELECT doc_id,
             CAST(unnest(generate_series(
               1, CAST(ceil(len(tk) / 32.0) AS BIGINT))) AS BIGINT)
               AS chunk_idx,
             unnest(list_transform(
               generate_series(1, CAST(ceil(len(tk) / 32.0) AS BIGINT)),
               i -> array_to_string(tk[(i-1)*32+1 : i*32], ' '))) AS chunk_text
      FROM t),
    r AS (
      SELECT doc_id, chunk_idx, chunk_text,
             ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM c)
    SELECT doc_id,
           string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
                      ORDER BY chunk_idx) AS clean_text,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped
    FROM r
    GROUP BY doc_id
    HAVING SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0
    """,
)
def dedup_passages_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide passage dedup (operators.text.dedup_passages, 32
    tokens/passage — the C4/Lee-et-al boilerplate-removal recipe):
    repeated passages keep only their first (doc, position)
    occurrence, documents reassemble in order, emptied documents
    drop. One fingerprint window + one ordered reassembly; the
    oracle replays chunking, keep-first ranking, and ORDER BY
    string_agg reassembly — exact clean_text equality proves all
    three compose."""
    docs = load_table(spark, sf_dir, "documents")
    return X.dedup_passages(docs, "doc_id", "text", 32)


_MINHASH_BKT_INDEX: dict[str, tuple[str, str]] = {}


def minhash_bucketed_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once) the BUCKETED at-rest dedup index of the even-half
    corpus: (table name prefix, path). Deterministic digest-tagged
    table names; rebuild if a fresh session lost the catalog entries
    (the bucketplans.bucketed_fixture_tables discipline)."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"mh_idx_{tag}"
    if sf_dir in _MINHASH_BKT_INDEX and spark.catalog.tableExists(
        f"{table}_bands"
    ):
        return _MINHASH_BKT_INDEX[sf_dir]
    spark.sql(f"DROP TABLE IF EXISTS {table}_bands")
    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="minhash_bkt_index_") + "/corpus"
    D.portable_minhash_index_write_bucketed(
        docs.where(F.col("doc_id") % 2 == 0), table, path, "doc_id", "text"
    )
    _MINHASH_BKT_INDEX[sf_dir] = (table, path)
    return table, path


@register(
    "minhash_dedup_incremental_bucketed",
    oracle=_incremental_minhash_oracle(),
)
def minhash_dedup_incremental_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The incremental crawl dedup against the BUCKETED at-rest index
    (operators.dedup.portable_minhash_dedup_incremental_bucketed):
    identical semantics to minhash_dedup_incremental — the two
    entries share one oracle — but the candidate join's equi-keys
    match the index's bucket spec, so the corpus-sized index side
    enters the sort-merge join with no exchange and no sort; only the
    arriving batch shuffles (tests/test_dedup.py asserts both the
    result equality and the exchange-count difference). The
    write-once amortization story of the bucketed fact tables,
    applied to the dedup loop."""
    docs = load_table(spark, sf_dir, "documents")
    table, path = minhash_bucketed_index(spark, sf_dir)
    return D.portable_minhash_dedup_incremental_bucketed(
        docs.where(F.col("doc_id") % 2 == 1),
        table,
        path,
        "doc_id",
        "text",
        threshold=0.5,
    )


@register(
    "dedup_substrings_documents",
    oracle="""
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), wins AS (
      SELECT doc_id, CAST(s AS BIGINT) AS start,
             md5(array_to_string(list_slice(toks, s, s + 31), ' ')) AS fp
      FROM tk,
           LATERAL (SELECT unnest(generate_series(1, len(toks) - 31, 16))
                    AS s) g
      WHERE len(toks) >= 32
    ), dup AS (
      SELECT doc_id, start FROM (
        SELECT doc_id, start,
               ROW_NUMBER() OVER (PARTITION BY fp
                                  ORDER BY doc_id, start) AS rn
        FROM wins) r
      WHERE rn > 1
    ), droppos AS (
      SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
      FROM dup,
           LATERAL (SELECT unnest(generate_series(start, start + 31))
                    AS p) g
    ), tokpos AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             CAST(generate_subscripts(string_split(text, ' '), 1)
                  AS BIGINT) AS pos
      FROM documents
    ), kept AS (
      SELECT t.doc_id, t.tok, t.pos
      FROM tokpos t
      ANTI JOIN droppos d ON d.doc_id = t.doc_id AND d.pos = t.pos
    )
    SELECT k.doc_id,
           array_to_string(list(k.tok ORDER BY k.pos), ' ') AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_kept_tokens,
           CAST(len(tk.toks) - COUNT(*) AS BIGINT) AS n_dropped_tokens
    FROM kept k JOIN tk ON tk.doc_id = k.doc_id
    GROUP BY k.doc_id, len(tk.toks)
    """,
)
def dedup_substrings_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided-window substring dedup (operators.text.dedup_substrings,
    window 32 / stride 16 — the Lee et al. 2021 recipe's overlapping-
    window approximation): repeated 32-token windows keep their first
    (doc, start) occurrence and every later occurrence's token range
    is removed — including duplicated spans that STRADDLE the fixed
    32-token passage boundary, which ``dedup_passages_documents``
    cannot see (its disjoint chunks hash differently on each side of
    the cut; the boundary-straddle pytest in tests/test_text.py is
    the differential witness). Fingerprints shuffle, window text
    never does; the token-axis explode is the linear dominant term.
    The oracle replays windows, keep-first rank, dropped positions,
    and position-ordered reassembly in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return X.dedup_substrings(
        docs, "doc_id", "text", window_tokens=32, stride=16
    )


@register(
    "lm_bigram_score_documents",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
      SELECT doc_id, t[g.i] AS w1, t[g.i + 1] AS w2
      FROM tok,
           LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
      WHERE len(t) >= 2
    ), b AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2
    ), u AS (
      SELECT w1, SUM(c2) AS c1 FROM b GROUP BY w1
    ), s AS (
      SELECT bg.doc_id,
             COUNT(*) AS n_bigrams,
             SUM(b.c2) AS sum_bigram_freq,
             SUM(CASE WHEN b.c2 = 1 THEN 1 ELSE 0 END) AS n_hapax,
             round(AVG(ln(CAST(u.c1 AS DOUBLE))
                       - ln(CAST(b.c2 AS DOUBLE))), 6) AS avg_neg_logprob
      FROM bg JOIN b USING (w1, w2) JOIN u USING (w1)
      GROUP BY bg.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(s.sum_bigram_freq, 0) AS BIGINT)
             AS sum_bigram_freq,
           CAST(COALESCE(s.n_hapax, 0) AS BIGINT) AS n_hapax_bigrams,
           s.avg_neg_logprob
    FROM documents d LEFT JOIN s USING (doc_id)
    """,
)
def lm_bigram_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality scoring (operators.text.lm_bigram_score):
    per-document surprisal under the corpus's own maximum-likelihood
    bigram model — integer phrase-commonness signals (sum of corpus
    bigram frequencies, hapax-bigram count) plus the mean −ln P(w2|w1)
    perplexity proxy at 6 dp. The CCNet-style quality signal with the
    corpus as its own model: no external LM artifact, no smoothing
    constant (counts include the doc, so every probability is
    defined). Hash-exact vs the DuckDB lateral-bigram replay."""
    docs = load_table(spark, sf_dir, "documents")
    return X.lm_bigram_score(docs)


@register(
    "corpus_ngram_diversity",
    oracle="""
    WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT n.n AS n,
             array_to_string(list_slice(t, g.i, g.i + n.n - 1), ' ')
               AS gram
      FROM tok
      CROSS JOIN (SELECT unnest(range(1, 4)) AS n) n,
      LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g
      WHERE g.i + n.n - 1 <= len(t)
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM grams GROUP BY n
    """,
)
def corpus_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity audit (operators.text.ngram_diversity):
    distinct vs total n-grams for n=1..3 — the distinct-n
    repetitiveness fingerprint. Hash-exact vs the DuckDB
    lateral-slice replay."""
    docs = load_table(spark, sf_dir, "documents")
    return X.ngram_diversity(docs, max_n=3)


@register(
    "token_freq_spectrum",
    oracle="""
    WITH c AS (
      SELECT w, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE length(w) > 0 GROUP BY w
    )
    SELECT CAST(freq AS BIGINT) AS freq,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM c GROUP BY freq
    """,
)
def token_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf audit (operators.text.token_freq_spectrum): token
    frequency-of-frequencies — boilerplate floods show as mass at
    high freq, noise floods as mass at freq 1. Hash-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return X.token_freq_spectrum(docs)


_DECONTAM_FRACTION_ORACLE = """
    WITH pool AS (
      SELECT doc_id, string_split(text, ' ') AS tk
      FROM documents WHERE doc_id % 13 <> 0
    ), bencht AS (
      SELECT string_split(text, ' ') AS tk
      FROM documents WHERE doc_id % 13 = 0
    ), pg AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 4, 0)),
               i -> array_to_string(list_slice(tk, i, i + 4), ' '))))
               AS g
      FROM pool
    ), bfp AS (
      SELECT DISTINCT md5(g) AS fp FROM (
        SELECT unnest(list_transform(
                 generate_series(1, greatest(len(tk) - 4, 0)),
                 i -> array_to_string(list_slice(tk, i, i + 4), ' ')))
                 AS g
        FROM bencht)
    ), cnt AS (
      SELECT doc_id, COUNT(*) AS n_ngrams,
             SUM(CASE WHEN md5(g) IN (SELECT fp FROM bfp)
                 THEN 1 ELSE 0 END) AS n_contaminated
      FROM pg GROUP BY doc_id
    ), flagged AS (
      SELECT p.doc_id,
             CAST(COALESCE(c.n_ngrams, 0) AS BIGINT) AS n_ngrams,
             CAST(COALESCE(c.n_contaminated, 0) AS BIGINT)
               AS n_contaminated
      FROM (SELECT doc_id FROM documents WHERE doc_id % 13 <> 0) p
      LEFT JOIN cnt c USING (doc_id)
    )
    SELECT doc_id, n_ngrams, n_contaminated
    FROM flagged
    WHERE n_contaminated * 10 <= 1 * n_ngrams
"""


@register(
    "decontaminate_fraction_documents",
    oracle=_DECONTAM_FRACTION_ORACLE,
)
def decontaminate_fraction_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fractional n-gram decontamination against a benchmark CORPUS
    (operators.governance.decontaminate_against — the PaLM/GPT-3
    recipe): with every 13th document standing in as the eval suite,
    a pool document is dropped when more than 1/10 of its distinct
    5-grams appear anywhere in the suite (integer cross-multiplied
    threshold — no float boundary). Near-copies of benchmark docs
    (the fixture's planted dups) die; incidental single-phrase
    collisions survive. Join keys are md5 digests — phrase text never
    shuffles. Output is the kept audit table (id + the two counts the
    release report quotes)."""
    from ..operators.governance import decontaminate_against

    docs = load_table(spark, sf_dir, "documents")
    pool = docs.where(F.col("doc_id") % 13 != 0)
    bench = docs.where(F.col("doc_id") % 13 == 0)
    return decontaminate_against(
        pool, bench, "doc_id", "text", "text",
        n=5, max_frac_numer=1, max_frac_denom=10,
    ).select("doc_id", "n_ngrams", "n_contaminated")


@register(
    "pseudonymize_events",
    oracle="""
    WITH v AS (
      SELECT user_id,
             CAST(ROW_NUMBER() OVER (ORDER BY user_id) AS BIGINT)
               AS surrogate_id
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT e.event_id, v.surrogate_id, e.event_type
    FROM events e JOIN v USING (user_id)
    """,
)
def pseudonymize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity-vault pseudonymization
    (operators.governance.build_identity_vault / pseudonymize): every
    distinct user_id gets a dense stable surrogate by distributed
    global rank in key order, and the fact table re-keys onto the
    surrogate — the GDPR pattern where the vault is the only artifact
    linking back to the natural key. The oracle replays the rank and
    the join; exact equality proves the parallel rank assigns the
    sequential mapping. Vault persistence (versioned pointer) and the
    extend-without-remap stability contract are pinned in
    tests/test_governance.py."""
    from ..operators.governance import build_identity_vault, pseudonymize

    ev = load_table(spark, sf_dir, "events")
    vault = build_identity_vault(ev, "user_id")
    return pseudonymize(ev, vault, "user_id").select(
        "event_id", "surrogate_id", "event_type"
    )


@register(
    "gopher_quality_filter",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents
    ), s AS (
      SELECT doc_id,
        CAST(len(tk) AS BIGINT) AS n_words,
        CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT)
          AS sum_len,
        CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]')))
          AS BIGINT) AS n_alpha,
        CAST(len(list_distinct(list_filter(tk, x -> x IN
          ('the','be','to','of','and','that','have','with'))))
          AS BIGINT) AS n_stop,
        CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
          + (CAST(length(text)
               - length(replace(text, '...', '')) AS BIGINT) // 3)
          AS n_symbol,
        CAST(len(list_transform(
              generate_series(1, GREATEST(len(tk) - 2, 0)),
              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
          AS BIGINT) AS nt,
        CAST(len(list_distinct(list_transform(
              generate_series(1, GREATEST(len(tk) - 2, 0)),
              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])))
          AS BIGINT) AS nd
      FROM t
    ), f AS (
      SELECT doc_id,
        (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
        (sum_len >= 3 * n_words AND sum_len <= 10 * n_words)
          AS ok_mean_word_len,
        (n_symbol * 10 <= 1 * n_words) AS ok_symbol_ratio,
        (n_alpha * 100 >= 80 * n_words) AS ok_alpha_words,
        (n_stop >= 1) AS ok_stopwords,
        ((nt - nd) * 100 <= 30 * nt) AS ok_dup_trigrams
      FROM s
    )
    SELECT doc_id, ok_word_count, ok_mean_word_len, ok_symbol_ratio,
           ok_alpha_words, ok_stopwords, ok_dup_trigrams,
           (ok_word_count AND ok_mean_word_len AND ok_symbol_ratio
            AND ok_alpha_words AND ok_stopwords AND ok_dup_trigrams)
             AS passes
    FROM f
    """,
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality rules (Rae et al. 2021) as one in-plan
    composite gate (operators.text.gopher_filter): word count, mean
    word length, symbol ratio, alphabetic-word share, stopword
    tripwire, duplicate-trigram fraction — every rule an integer
    cross-multiplication, per-rule audit flags + the AND. Pure
    per-row codegen; the oracle replays all six rules and the
    composite bit-for-bit. Entry parameter: ``min_stopwords=1`` (not
    the published 2) — the synthetic fixture vocabulary contains only
    'the' from the canonical list, so the published threshold is
    unsatisfiable here and would leave the keep direction untested;
    every other rule runs at its published default and the fixture
    splits non-trivially on word count."""
    from ..operators.text import gopher_filter

    docs = load_table(spark, sf_dir, "documents")
    return gopher_filter(docs, min_stopwords=1).select(
        "doc_id", "ok_word_count", "ok_mean_word_len",
        "ok_symbol_ratio", "ok_alpha_words", "ok_stopwords",
        "ok_dup_trigrams", "passes",
    )


@register(
    "perplexity_buckets_documents",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
      SELECT doc_id, t[g.i] AS w1, t[g.i + 1] AS w2
      FROM tok,
           LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
      WHERE len(t) >= 2
    ), b AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2
    ), u AS (
      SELECT w1, SUM(c2) AS c1 FROM b GROUP BY w1
    ), s AS (
      SELECT bg.doc_id,
             round(AVG(ln(CAST(u.c1 AS DOUBLE))
                       - ln(CAST(b.c2 AS DOUBLE))), 6) AS avg_neg_logprob
      FROM bg JOIN b USING (w1, w2) JOIN u USING (w1)
      GROUP BY bg.doc_id
    ), r AS (
      SELECT doc_id, avg_neg_logprob,
             ROW_NUMBER() OVER (ORDER BY avg_neg_logprob, doc_id)
               AS ppl_rank,
             COUNT(*) OVER () AS n
      FROM s
    )
    SELECT doc_id, avg_neg_logprob, CAST(ppl_rank AS BIGINT) AS ppl_rank,
           CASE ((ppl_rank - 1) * 3) // n
             WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM r
    """,
)
def perplexity_buckets_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (operators.text.
    perplexity_buckets, Wenzek et al. 2020): rank every document by
    its corpus-LM surprisal and cut into head/middle/tail thirds —
    the training-mix vocabulary CCNet samples by. Ranking is the
    distributed global rank (one range exchange over the narrow
    (id, score) frame, no single-partition window); the tile cut is
    exact integer arithmetic, replayed by the oracle with ROW_NUMBER
    over the same (score, id) total order."""
    docs = load_table(spark, sf_dir, "documents")
    return X.perplexity_buckets(docs, "doc_id", "text", 3)


@register(
    "remove_frequent_passages",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    c AS (
      SELECT doc_id,
             CAST(unnest(generate_series(
               1, CAST(ceil(len(tk) / 32.0) AS BIGINT))) AS BIGINT)
               AS chunk_idx,
             unnest(list_transform(
               generate_series(1, CAST(ceil(len(tk) / 32.0) AS BIGINT)),
               i -> array_to_string(tk[(i-1)*32+1 : i*32], ' '))) AS chunk_text
      FROM t),
    f AS (
      SELECT md5(chunk_text) AS fp
      FROM c GROUP BY md5(chunk_text)
      HAVING COUNT(DISTINCT doc_id) >= 2),
    k AS (
      SELECT c.* FROM c
      WHERE md5(c.chunk_text) NOT IN (SELECT fp FROM f)),
    n AS (SELECT doc_id, COUNT(*) AS n_total FROM c GROUP BY doc_id)
    SELECT k.doc_id,
           string_agg(k.chunk_text, ' ' ORDER BY k.chunk_idx)
             AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(ANY_VALUE(n.n_total) - COUNT(*) AS BIGINT) AS n_dropped
    FROM k JOIN n ON k.doc_id = n.doc_id
    GROUP BY k.doc_id
    """,
)
def remove_frequent_passages_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's boilerplate suppression (operators.text.
    remove_frequent_passages, Raffel et al. 2020): passages whose
    fingerprint appears in ≥2 distinct documents are removed from
    EVERY document (vs dedup_passages' keep-first), documents
    reassemble in order, emptied documents drop. Digest-keyed
    document-frequency aggregation + left-anti suppression join; the
    oracle replays chunking, the df rule, and the ordered
    reassembly — exact clean_text equality proves all three."""
    docs = load_table(spark, sf_dir, "documents")
    return X.remove_frequent_passages(docs, "doc_id", "text", 32, 2)


_JSONL_STAGE: dict[str, str] = {}


@register(
    "documents_jsonl_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def documents_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL interchange fidelity (sources.writers.write_jsonl /
    read_jsonl — the one-object-per-line format LLM corpora exchange):
    the documents table writes to gzip JSONL and reads back with an
    explicit schema; hash-equality against the ORIGINAL parquet table
    proves the encode→decode cycle loses nothing (string escaping,
    unicode, integer width). Distributed one-file-per-partition
    write; explicit-schema read (inference would be a second full
    pass at 100 TB)."""
    import tempfile

    from ..sources.tables import load_table
    from ..sources.writers import read_jsonl, write_jsonl

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    if sf_dir not in _JSONL_STAGE:
        tmp = tempfile.mkdtemp(prefix="docs_jsonl_")
        write_jsonl(docs, f"{tmp}/docs")
        _JSONL_STAGE[sf_dir] = tmp
    return read_jsonl(
        spark,
        f"{_JSONL_STAGE[sf_dir]}/docs",
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).select("doc_id", "text", "lang", "source", "n_chars")


_LM_REFERENCE_ORACLE = """
    WITH rt AS (
      SELECT string_split(text, ' ') AS t FROM documents WHERE lang = 'en'
    ), rbg AS (
      SELECT t[g.i] AS w1, t[g.i + 1] AS w2
      FROM rt,
           LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
      WHERE len(t) >= 2
    ), b AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM rbg GROUP BY w1, w2
    ), u AS (
      SELECT w1, SUM(c2) AS c1 FROM b GROUP BY w1
    ), v AS (
      SELECT COUNT(DISTINCT w2) AS vv FROM b
    ), tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
      SELECT doc_id, t[g.i] AS w1, t[g.i + 1] AS w2
      FROM tok,
           LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
      WHERE len(t) >= 2
    ), s AS (
      SELECT bg.doc_id,
             COUNT(*) AS n_bigrams,
             SUM(CASE WHEN b.c2 IS NULL THEN 1 ELSE 0 END) AS n_oov,
             round(AVG(
               ln(CAST(COALESCE(u.c1, 0) + (SELECT vv FROM v) AS DOUBLE))
               - ln(CAST(COALESCE(b.c2, 0) + 1 AS DOUBLE))), 6)
               AS avg_neg_logprob
      FROM bg LEFT JOIN b USING (w1, w2) LEFT JOIN u USING (w1)
      GROUP BY bg.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(s.n_oov, 0) AS BIGINT) AS n_oov_bigrams,
           s.avg_neg_logprob
    FROM documents d LEFT JOIN s USING (doc_id)
    """


@register("lm_reference_score_documents", oracle=_LM_REFERENCE_ORACLE)
def lm_reference_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity scoring under a FROZEN reference LM
    (operators.text.bigram_lm_train + lm_bigram_score_against —
    CCNet's deployment shape: the LM is trained once on the reference
    corpus, here the lang='en' slice, and the whole pool scores
    against that artifact). Laplace-smoothed so out-of-reference
    bigrams are defined; n_oov_bigrams is the domain-shift audit
    signal. Hash-exact vs the DuckDB replay of train + score."""
    from ..operators.text import bigram_lm_train, lm_bigram_score_against

    docs = load_table(spark, sf_dir, "documents")
    model = bigram_lm_train(docs.where(F.col("lang") == "en"), "text")
    return lm_bigram_score_against(docs, model, "doc_id", "text")


@register("streaming_lm_score_documents", oracle=_LM_REFERENCE_ORACLE)
def streaming_lm_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-LM perplexity scoring at ingest latency
    (streaming.lm_monitor): the reference bigram LM (lang='en' slice)
    trains once and persists; documents arrive as five micro-batches
    and every batch scores against the artifact, landing batch-keyed.
    Scoring is stateless per document given the artifact, so the
    union of batches hash-matches the SAME DuckDB oracle as the batch
    lm_reference_score_documents entry — the streaming decomposition
    loses and invents nothing. Crash-replay pinned in
    tests/test_streaming.py."""
    import tempfile

    from ..operators.text import bigram_lm_save, bigram_lm_train
    from ..streaming.lm_monitor import read_lm_scores, run_streaming_lm_score
    from .streamplans import _stage_document_batches

    tmp = tempfile.mkdtemp(prefix="stream_lm_")
    docs = load_table(spark, sf_dir, "documents")
    bigram_lm_save(
        bigram_lm_train(docs.where(F.col("lang") == "en"), "text"),
        f"{tmp}/model",
    )
    watch, schema = _stage_document_batches(spark, sf_dir, tmp)
    run_streaming_lm_score(
        spark,
        watch,
        f"{tmp}/model",
        f"{tmp}/scored",
        schema,
        checkpoint_dir=f"{tmp}/ckpt",
    )
    return read_lm_scores(spark, f"{tmp}/scored").select(
        "doc_id", "n_bigrams", "n_oov_bigrams", "avg_neg_logprob"
    )


_CSV_STAGE: dict[str, str] = {}


@register(
    "documents_csv_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def documents_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV interchange fidelity (sources.writers.write_csv /
    read_csv — the legacy-feed format): documents write to RFC-4180
    gzip CSV and read back with an explicit schema; hash-equality
    against the ORIGINAL parquet proves the cycle loses nothing for
    this corpus. The fixture text is CSV-benign by construction
    (single-line, no commas/quotes), so the HOSTILE cases — embedded
    newlines, quotes, commas, unicode, and the NULL-vs-empty
    collapse CSV cannot represent — are pinned separately in
    tests/test_sources_pipeline.py; JSONL remains the corpus format
    (documents_jsonl_roundtrip), CSV the ingestion edge."""
    import tempfile

    from ..sources.tables import load_table
    from ..sources.writers import read_csv, write_csv

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    if sf_dir not in _CSV_STAGE:
        tmp = tempfile.mkdtemp(prefix="docs_csv_")
        write_csv(docs, f"{tmp}/docs")
        _CSV_STAGE[sf_dir] = tmp
    return read_csv(
        spark,
        f"{_CSV_STAGE[sf_dir]}/docs",
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).select("doc_id", "text", "lang", "source", "n_chars")


_ORC_STAGE: dict[str, str] = {}


@register(
    "documents_orc_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def documents_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange fidelity (sources.writers.write_orc /
    read_orc — the Hive-ecosystem columnar format): documents write to
    zstd ORC and read back; hash-equality against the ORIGINAL parquet
    proves the cycle loses nothing. Unlike the CSV edge there is no
    quoting/NULL ambiguity to pin — ORC is typed and self-describing
    (schema in the footer), so the hostile cases that need separate
    pytests for CSV (embedded newlines, NULL-vs-empty) ride the same
    roundtrip here (tests/test_sources_pipeline.py)."""
    import tempfile

    from ..sources.tables import load_table
    from ..sources.writers import read_orc, write_orc

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    if sf_dir not in _ORC_STAGE:
        tmp = tempfile.mkdtemp(prefix="docs_orc_")
        write_orc(docs, f"{tmp}/docs")
        _ORC_STAGE[sf_dir] = tmp
    return read_orc(spark, f"{_ORC_STAGE[sf_dir]}/docs").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@register(
    "corpus_datasheet_by_source",
    oracle="""
    WITH base AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             CAST(SUM(length(text)) AS BIGINT) AS n_chars,
             CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT)
               AS n_exact_dup_docs,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(CAST(len(string_split(text, ' '))
                  AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS avg_doc_tokens
      FROM documents GROUP BY source
    ), pl AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS lang_docs
      FROM documents GROUP BY source, lang
    ), top AS (
      SELECT source, lang AS top_lang, lang_docs AS top_lang_docs
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY lang_docs DESC, lang) AS rnk
        FROM pl
      ) WHERE rnk = 1
    )
    SELECT base.*, top.top_lang, top.top_lang_docs
    FROM base JOIN top USING (source)
    """,
)
def corpus_datasheet_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card (operators.governance.corpus_datasheet —
    the Datasheets-for-Datasets release aggregate): volume,
    exact-duplicate pressure, language spread, dominant language.
    Integer-exact except the one exact-decimal token average; the
    DuckDB replay is hash-exact. One scan, no corpus-sized join,
    text never shuffles."""
    from ..operators.governance import corpus_datasheet

    docs = load_table(spark, sf_dir, "documents")
    return corpus_datasheet(docs)


@register(
    "token_entropy_documents",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), ty AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, token
    ), s AS (
      SELECT doc_id,
             CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                  * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS s_micro
      FROM ty GROUP BY doc_id
    ), dl AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT dl.doc_id, dl.n_tokens,
           CAST(ROUND((ln(CAST(n_tokens AS DOUBLE))
             - (CAST(s_micro AS DOUBLE) / 1000000.0)
               / CAST(n_tokens AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
             AS entropy_micro
    FROM dl JOIN s ON dl.doc_id = s.doc_id
    """,
)
def token_entropy_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy
    (operators.text.token_entropy) — gibberish/repetition quality
    signal. Per-type integer micro-unit freeze makes the type sum
    orderless, so the DuckDB replay is hash-exact, estimate
    included."""
    docs = load_table(spark, sf_dir, "documents")
    return X.token_entropy(docs)


_CDC_CHUNKS_CTE = """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) > 0
    ), b AS (
      SELECT doc_id, t,
             [1] || list_transform(
               list_filter(range(1, len(t)),
                           i -> substr(md5(t[i]), 32, 1) IN ('0', '1')),
               p -> p + 1) AS starts,
             list_filter(range(1, len(t)),
                         i -> substr(md5(t[i]), 32, 1) IN ('0', '1'))
               || [len(t)] AS ends
      FROM tok
    ), chunks AS (
      SELECT doc_id, CAST(k.i - 1 AS BIGINT) AS chunk_idx,
             md5(array_to_string(t[starts[k.i]:ends[k.i]], ' ')) AS digest,
             CAST(ends[k.i] - starts[k.i] + 1 AS BIGINT) AS n_tokens
      FROM b, LATERAL (
        SELECT unnest(generate_series(1, len(starts))) AS i
      ) k
    )
    """


@register(
    "cdc_chunks_documents",
    oracle=_CDC_CHUNKS_CTE
    + "SELECT doc_id, chunk_idx, digest, n_tokens FROM chunks",
)
def cdc_chunks_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (operators.dedup.cdc_chunks — the
    LBFS/restic storage-dedup primitive): boundaries fall where a
    per-token md5 digit matches, so edits reshape only nearby chunks
    and untouched chunks keep their digests across corpus snapshots.
    Entirely per-row codegen (HOF boundary filter + dynamic slices —
    no explode-window, text never shuffles); hash-exact vs the DuckDB
    list replay."""
    docs = load_table(spark, sf_dir, "documents")
    return D.cdc_chunks(docs)


@register(
    "cdc_dedup_ratio",
    oracle=_CDC_CHUNKS_CTE
    + """
    , per AS (
      SELECT digest, CAST(COUNT(*) AS BIGINT) AS n_copies,
             ANY_VALUE(n_tokens) AS n_tokens
      FROM chunks GROUP BY digest
    )
    SELECT CAST(SUM(n_copies) AS BIGINT) AS total_chunks,
           CAST(COUNT(*) AS BIGINT) AS distinct_chunks,
           CAST(SUM(n_copies * n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS distinct_tokens
    FROM per
    """,
)
def cdc_dedup_ratio_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed-store economics of CDC chunking
    (operators.dedup.cdc_dedup_ratio): chunk/token counts before vs
    after digest dedup, exact integers — one 16-byte-key collapse plus
    one global aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return D.cdc_dedup_ratio(docs)


@register(
    "kanon_suppress_events",
    oracle="""
    WITH g AS (
      SELECT user_id % 100 AS ubucket, event_type
      FROM events
    ), keep AS (
      SELECT ubucket, event_type FROM g
      GROUP BY ubucket, event_type HAVING COUNT(*) >= 25
    )
    SELECT g.ubucket AS ubucket, g.event_type AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM g JOIN keep
      ON g.ubucket IS NOT DISTINCT FROM keep.ubucket
     AND g.event_type IS NOT DISTINCT FROM keep.event_type
    GROUP BY g.ubucket, g.event_type
    """,
)
def kanon_suppress_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate (operators.governance.kanon_suppress):
    rows whose quasi-identifier combination (user bucket × event type)
    appears fewer than k=25 times are suppressed before publication.
    Group-count semi-join — keys shuffle, payloads don't. The entry
    aggregates the surviving rows per group so the oracle pins both
    WHICH groups survive and their exact sizes."""
    from ..sources.tables import load_table as _lt

    ev = _lt(spark, sf_dir, "events").select(
        (F.col("user_id") % 100).alias("ubucket"), "event_type"
    )
    from ..operators.governance import kanon_suppress

    kept = kanon_suppress(ev, ["ubucket", "event_type"], k=25)
    return kept.groupBy("ubucket", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )


_CDC_STREAM_STAGE: dict[str, str] = {}


@register(
    "streaming_cdc_chunk_store",
    oracle=_CDC_CHUNKS_CTE
    + "SELECT doc_id, chunk_idx, digest, n_tokens FROM chunks",
)
def streaming_cdc_chunk_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed chunk store at ingest latency
    (streaming.cdc_store): documents arrive as five micro-batches,
    each appends its CDC chunk rows batch-keyed. Chunking is a pure
    per-document function, so the accumulated store hash-matches the
    SAME oracle as the batch cdc_chunks_documents entry under any
    arrival decomposition; same-batch crash replay absorbed by
    batch-keyed dynamic overwrite, and a duplicated arrival FILE
    leaves the digest set unchanged (content addressing — pinned in
    tests/test_streaming.py)."""
    import tempfile

    from ..streaming.cdc_store import (
        read_chunk_store,
        run_streaming_cdc_store,
    )
    from .streamplans import _stage_document_batches

    if sf_dir not in _CDC_STREAM_STAGE:
        tmp = tempfile.mkdtemp(prefix="cdc_store_")
        watch, schema = _stage_document_batches(spark, sf_dir, tmp)
        run_streaming_cdc_store(
            spark, watch, f"{tmp}/chunks", schema,
            checkpoint_dir=f"{tmp}/ckpt",
        )
        _CDC_STREAM_STAGE[sf_dir] = tmp
    return read_chunk_store(
        spark, f"{_CDC_STREAM_STAGE[sf_dir]}/chunks"
    ).select("doc_id", "chunk_idx", "digest", "n_tokens")


_SPAN_ORACLE = """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) > 0
    ), b AS (
      SELECT doc_id, t,
             list_filter(range(1, len(t) + 1),
               p -> substr(md5(CAST(doc_id AS VARCHAR) || '-'
                               || CAST(p AS VARCHAR)), 32, 1) = '0')
               AS starts
      FROM tok
    ), f AS (
      SELECT doc_id, t, starts,
             list_transform(range(1, len(t) + 1),
               p -> len(list_filter(starts,
                        s -> s <= p AND p < s + 3)) > 0) AS flags
      FROM b
    ), g AS (
      SELECT doc_id, t, flags,
             list_filter(range(1, len(t) + 1),
               p -> flags[p] AND (p = 1 OR NOT flags[greatest(p - 1, 1)]))
               AS begins
      FROM f
    )
    SELECT doc_id,
           array_to_string(list_filter(list_transform(
             range(1, len(t) + 1),
             p -> CASE
               WHEN NOT flags[p] THEN t[p]
               WHEN list_contains(begins, p) THEN
                 '<extra_id_' || CAST(
                   len(list_filter(begins, bb -> bb <= p)) - 1
                   AS VARCHAR) || '>'
               ELSE '' END), x -> x <> ''), ' ') AS inputs,
           CASE WHEN len(begins) > 0 THEN
             array_to_string(list_filter(list_transform(
               range(1, len(t) + 1),
               p -> CASE
                 WHEN NOT flags[p] THEN ''
                 WHEN list_contains(begins, p) THEN
                   '<extra_id_' || CAST(
                     len(list_filter(begins, bb -> bb <= p)) - 1
                     AS VARCHAR) || '> ' || t[p]
                 ELSE t[p] END), x -> x <> ''), ' ')
             || ' <extra_id_' || CAST(len(begins) AS VARCHAR) || '>'
           ELSE '<extra_id_0>' END AS targets,
           CAST(len(begins) AS BIGINT) AS n_spans,
           CAST(len(list_filter(flags, x -> x)) AS BIGINT) AS n_masked
    FROM g
    """


@register("span_corruption_documents", oracle=_SPAN_ORACLE)
def span_corruption_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span corruption as a deterministic corpus transform
    (operators.text.span_corruption_pairs): the denoising-objective
    (inputs, targets) pairs with <extra_id_k> sentinels, the mask a
    pure function of (id, pos) — reproducible and auditable, replayed
    string-for-string by the DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return X.span_corruption_pairs(docs)


@register(
    "oversample_mix_documents",
    oracle="""
    WITH w AS (
      SELECT doc_id, text, source,
             CASE WHEN source = 'src0' THEN 3
                  WHEN source = 'src1' THEN 0
                  ELSE 1 END AS k,
             CASE WHEN source = 'src0' THEN '66'
                  WHEN source = 'src1' THEN '80'
                  ELSE '00' END AS thresh
      FROM documents
    ), c AS (
      SELECT doc_id, text, source,
             CAST(g.i AS BIGINT) AS copy_id
      FROM w, LATERAL (
        SELECT unnest(generate_series(0, k)) AS i
      ) g
      WHERE g.i < k
         OR substr(md5(CAST(doc_id AS VARCHAR) || ':'
                       || CAST(g.i AS VARCHAR)), 1, 2) < thresh
    )
    SELECT doc_id, source, copy_id, length(text) AS n_chars FROM c
    """,
)
def oversample_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture oversampling (operators.governance.oversample_sources —
    GPT-3's per-source epoch weighting): src0 up-weighted to 3.4
    epochs (3 full copies + a 102/256 fractional copy), src1
    down-sampled to 0.5, every other source passes at 1. copy_id keeps
    repeats distinct for downstream shuffle/pack while provenance
    stays joinable. The draw is a pure function of (id, copy index),
    so the DuckDB replay is hash-exact."""
    from pyspark.sql import functions as FF

    from ..operators.governance import oversample_sources

    docs = load_table(spark, sf_dir, "documents")
    out = oversample_sources(docs, {"src0": (34, 10), "src1": (1, 2)})
    return out.select(
        "doc_id", "source", "copy_id", FF.length("text").alias("n_chars")
    )


@register(
    "split_leakage_audit",
    oracle=_portable_minhash_oracle().replace(
        """
    SELECT c.id_a, c.id_b,""",
        """
    , labels AS (
      SELECT doc_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
               || ':leakage-audit'), 1, 8)) AS BIGINT) % 100 < 50
               THEN 'train' ELSE 'holdout' END AS split
      FROM documents
    )
    SELECT c.id_a, c.id_b, la.split AS split_a, lb.split AS split_b,""",
    ).replace(
        """FROM cand c JOIN nz x ON x.doc_id = c.id_a
                JOIN nz y ON y.doc_id = c.id_b""",
        """FROM cand c JOIN nz x ON x.doc_id = c.id_a
                JOIN nz y ON y.doc_id = c.id_b
                JOIN labels la ON la.doc_id = c.id_a
                JOIN labels lb ON lb.doc_id = c.id_b""",
    )
    + " AND la.split <> lb.split",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit — near-duplicate pairs that STRADDLE
    a train/holdout boundary (the eval-integrity failure n-gram
    decontamination misses: a paraphrased or lightly-edited copy of a
    holdout document sitting in train). Composes the two portable
    primitives: hash-based split assignment (split_corpus, 50/50 here
    so the fixture yields a non-trivial straddle set) and the
    fully-replayable MinHash-LSH pipeline; the DuckDB oracle replays
    BOTH stages and the straddle filter bit-for-bit. At 100 TB this
    is the release gate run before any eval: candidate volume is the
    banded equi-join's, labels are per-row codegen, the straddle
    filter is free."""
    from ..operators.dedup import portable_minhash_pairs
    from ..operators.governance import split_corpus

    docs = load_table(spark, sf_dir, "documents")
    pairs = portable_minhash_pairs(docs, "doc_id", "text", threshold=0.5)
    labels = split_corpus(
        docs,
        splits=[("train", 50), ("holdout", 50)],
        salt="leakage-audit",
    ).select("doc_id", "split")
    la = labels.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    lb = labels.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(la, "id_a")
        .join(lb, "id_b")
        .where(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
    )


@register(
    "chunk_documents_strided",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 1
    ), w AS (
      SELECT doc_id, t,
             CAST(floor((len(t) - 1) / 24.0) AS INT) + 1 AS n_windows
      FROM tok
    )
    SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_idx,
           array_to_string(t[(g.i - 1) * 24 + 1 :
                             least((g.i - 1) * 24 + 32, len(t))], ' ')
             AS chunk_text,
           CAST(least((g.i - 1) * 24 + 32, len(t))
                - ((g.i - 1) * 24 + 1) + 1 AS BIGINT) AS n_tokens
    FROM w, LATERAL (
      SELECT unnest(generate_series(1, n_windows)) AS i
    ) g
    """,
)
def chunk_documents_strided_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking
    (operators.text.chunk_documents_strided, window 32 / stride 24 —
    8-token overlap): the long-context prep convention where no span
    shorter than the overlap falls between windows. Per-row codegen;
    hash-exact vs the DuckDB slice replay."""
    docs = load_table(spark, sf_dir, "documents")
    return X.chunk_documents_strided(
        docs, window_tokens=32, stride_tokens=24
    )


_SPAN_STREAM_STAGE: dict[str, str] = {}


@register("streaming_span_corruption", oracle=_SPAN_ORACLE)
def streaming_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span corruption at ingest latency: documents arrive as five
    micro-batches, each batch's (inputs, targets) pairs land
    batch-keyed (foreachBatch + dynamic overwrite). The mask is a pure
    function of (id, pos), so the union of per-batch outputs
    hash-matches the SAME oracle as the batch span_corruption_documents
    entry under any arrival decomposition."""
    import tempfile

    from pyspark.sql import functions as FF

    from ..sources.writers import write_parquet_partitioned
    from .streamplans import _stage_document_batches

    if sf_dir not in _SPAN_STREAM_STAGE:
        tmp = tempfile.mkdtemp(prefix="span_stream_")
        watch, schema = _stage_document_batches(spark, sf_dir, tmp)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(watch)
        )

        def _proc(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            out = X.span_corruption_pairs(batch_df)
            write_parquet_partitioned(
                out.withColumn("batch", FF.lit(batch_id).cast("bigint")),
                f"{tmp}/pairs",
                ("batch",),
            )

        (
            stream.writeStream.foreachBatch(_proc)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
            .awaitTermination()
        )
        _SPAN_STREAM_STAGE[sf_dir] = tmp
    return (
        spark.read.schema(
            "doc_id bigint, inputs string, targets string,"
            " n_spans bigint, n_masked bigint, batch bigint"
        )
        .parquet(f"{_SPAN_STREAM_STAGE[sf_dir]}/pairs")
        .select("doc_id", "inputs", "targets", "n_spans", "n_masked")
    )


@register(
    "ngram_containment_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS shingle
      FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           n_common * 1.0 / least(sa.n, sb.n) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common * 1.0 / least(sa.n, sb.n) >= 0.8
    """,
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups
    (operators.dedup.containment_pairs): |A∩B|/min(|A|,|B|) ≥ 0.8 —
    flags inclusion (a document mostly contained in another) that
    Jaccard misses on lopsided sizes. Hash-exact vs the DuckDB
    replay."""
    docs = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(docs, "doc_id", "text", threshold=0.8, n=3)


@register(
    "token_burstiness_corpus",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ), per_tok AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS s,
             CAST(SUM(tf * tf) AS BIGINT) AS q
      FROM tf GROUP BY token
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    )
    SELECT token, df, s AS total_tf,
           round(CAST(n_docs * q - s * s AS DOUBLE)
                 / CAST(n_docs * s AS DOUBLE), 6) AS burstiness
    FROM per_tok CROSS JOIN n
    """,
)
def token_burstiness_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token burstiness (operators.text.token_burstiness —
    Church & Gale variance-to-mean over per-document counts, zeros
    included): content words clump, function words spread. One
    integer-exact division at 6 dp — hash-exact vs the DuckDB
    replay."""
    docs = load_table(spark, sf_dir, "documents")
    return X.token_burstiness(docs)
