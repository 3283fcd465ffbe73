"""Training-data pipeline queries: dedup family, cluster resolution and text
analysis over the ``documents`` table, each with a DuckDB oracle
replicating the exact arithmetic.

Dedup queries seed deterministic duplicates (a UNION ALL of shifted copies)
so the operators have non-trivial positives to find at every scale factor.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_bam_spark.operators import dedup, text as text_ops
from hadoop_bam_spark.queries.registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# Corpus with seeded duplicates: every 25th doc has an exact copy, every 50th
# a near-copy with a short suffix. Same construction on both engines.
_CORPUS_CTE = """
corpus AS (
    SELECT doc_id, text, lang, source FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text, lang, source
    FROM documents WHERE doc_id % 25 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text || ' extra tail token' AS text,
           lang, source
    FROM documents WHERE doc_id % 50 = 0
)
"""


def corpus_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    exact = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
    )
    near = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .withColumn("doc_id", F.col("doc_id") + 2000000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra tail token")))
    )
    return docs.unionByName(exact).unionByName(near)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle=f"""
        WITH {_CORPUS_CTE}
        SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id,
               count(*) AS n_dups
        FROM corpus GROUP BY 1 HAVING count(*) > 1
    """,
    doc="Exact dedup: one hash-partitioned groupBy on the md5 fingerprint "
    "(map-side partial agg; the text itself is never shuffled).",
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(corpus_view(spark, sf_dir))


def _shingles_sql(text_expr: str, n: int = 4) -> str:
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({text_expr}) - {n - 1}, 1)), "
        f"i -> substr({text_expr}, i, {n})))"
    )


def _hash60_sql(s: str) -> str:
    return f"('0x' || substr(md5({s}), 1, 15))::BIGINT"


_MINHASH_K = 16
_BAND_SIZE = 4
_SHINGLE_N = 8


# Build the minhash oracle SQL programmatically (identical arithmetic:
# one base hash per shingle, then k affine rehashes mod the Mersenne prime).
def _minhash_pair_ctes() -> str:
    """CTE chain ending in ``pairs(id_a, id_b)`` — shared by the pair query
    and the downstream clustering oracles."""
    p = dedup.MINHASH_P
    mh_exprs = ",\n               ".join(
        f"list_min(list_transform(base, h -> ({a}::BIGINT * h + {b}) % {p})) AS mh{j}"
        for j, (a, b) in enumerate(dedup.minhash_params(_MINHASH_K))
    )
    bands = "\n        UNION ALL\n".join(
        "        SELECT doc_id, {b} AS band_idx, {key} AS band_key FROM sig".format(
            b=b,
            key=" || '_' || ".join(
                f"mh{b * _BAND_SIZE + r}::VARCHAR" for r in range(_BAND_SIZE)
            ),
        )
        for b in range(_MINHASH_K // _BAND_SIZE)
    )
    return f"""{_CORPUS_CTE},
        shingled AS (
            SELECT doc_id,
                   list_transform({_shingles_sql('text', _SHINGLE_N)},
                                  s -> {_hash60_sql('s')} % {p}) AS base
            FROM corpus
        ),
        sig AS (
            SELECT doc_id,
               {mh_exprs}
            FROM shingled
        ),
        bands AS (
{bands}
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        )"""


def _minhash_oracle() -> str:
    return f"""
        WITH {_minhash_pair_ctes()}
        SELECT id_a, id_b FROM pairs
    """


@query(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    doc="MinHash (k=16 via universal-hash rehashing of one md5 per 8-char "
    "shingle) + banded LSH (4 bands x 4 rows): candidate near-dup pairs from "
    "band-bucket collisions. The equi-join on (band, bucket) keeps the "
    "comparison sub-quadratic at any scale; band width is tuned so unrelated "
    "docs (median shingle-Jaccard ~0.04 here) almost never collide.",
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        corpus_view(spark, sf_dir),
        num_hashes=_MINHASH_K,
        band_size=_BAND_SIZE,
        shingle_n=_SHINGLE_N,
    )


@query(
    "dedup_lsh_overflow",
    oracle=f"""
        WITH {_minhash_pair_ctes()}
        SELECT band_idx, band_key,
               count(*)::BIGINT AS bucket_size,
               (count(*) - 1)::BIGINT AS pairs_emitted,
               (count(*) * (count(*) - 1) // 2 - (count(*) - 1))::BIGINT
                   AS pairs_suppressed
        FROM bands GROUP BY 1, 2 HAVING count(*) > 2
    """,
    doc="Degenerate-bucket audit for the pairs-mode LSH budget: one row per "
    "band bucket above the size cap with the star-edge count emitted and "
    "the all-pairs count suppressed. At 100 TB this is how a pipeline "
    "owner sees how much near-identical mass (empty docs, boilerplate "
    "pages) the budget absorbed instead of going quadratic. Cap=2 here so "
    "the audit has rows at bench scale; production default is 256.",
)
def dedup_lsh_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_overflow(
        corpus_view(spark, sf_dir),
        num_hashes=_MINHASH_K,
        band_size=_BAND_SIZE,
        shingle_n=_SHINGLE_N,
        max_bucket=2,
    )


@query(
    "dedup_simhash",
    oracle=f"""
        WITH {_CORPUS_CTE},
        sigs AS (
            SELECT doc_id,
                   list_sum(list_transform(range(0, 32), j ->
                       CASE WHEN list_sum(list_transform(
                                string_split_regex(trim(text), '\\s+'),
                                t -> CASE WHEN ({_hash60_sql('t')} >> j) & 1 = 1
                                     THEN 1 ELSE -1 END)) > 0
                            THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS sh
            FROM corpus
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
    doc="SimHash (32-bit, per-bit token majority vote) near-dup pairs at "
    "Hamming distance <= 3, via the banded equi-join (max_hamming+1 bands, "
    "pigeonhole-exact recall — identical results to the all-pairs oracle, "
    "near-linear plan).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(corpus_view(spark, sf_dir), bits=32, max_hamming=3)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH {_minhash_pair_ctes()},
        sh AS (
            SELECT doc_id, {_shingles_sql('text')} AS s FROM corpus
        )
        SELECT p.id_a, p.id_b,
               round(len(list_intersect(a.s, b.s))::DOUBLE
                     / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        FROM pairs p
        JOIN sh a ON a.doc_id = p.id_a
        JOIN sh b ON b.doc_id = p.id_b
        WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
    """,
    doc="Exact 4-gram Jaccard VERIFIER over minhash-LSH candidate pairs — "
    "the two-stage pipeline as deployed at scale: LSH recalls candidates "
    "(never quadratic), two hash joins attach shingle sets, exact Jaccard "
    "confirms. No block-key-cardinality dependence.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = corpus_view(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        corpus,
        num_hashes=_MINHASH_K,
        band_size=_BAND_SIZE,
        shingle_n=_SHINGLE_N,
    )
    return dedup.jaccard_verify(corpus, pairs, shingle_n=4, threshold=0.5)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOPWORD_SQL = {
    lang: "(" + " + ".join(
        f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t = '{w}'))"
        for w in ws
    ) + ")::BIGINT"
    for lang, ws in text_ops.LANG_STOPWORDS.items()
}

_LANG_CASE = (
    "CASE WHEN greatest("
    + ", ".join(f"s_{lg}" for lg in sorted(text_ops.LANG_STOPWORDS))
    + ") = 0 THEN 'und' "
    + " ".join(
        f"WHEN s_{lg} = greatest("
        + ", ".join(f"s_{m}" for m in sorted(text_ops.LANG_STOPWORDS))
        + f") THEN '{lg}'"
        for lg in sorted(text_ops.LANG_STOPWORDS)
    )
    + " END"
)


@query(
    "lang_id_ngram",
    oracle=f"""
        WITH scores AS (
            SELECT doc_id,
                   {', '.join(f'{sql} AS s_{lang}' for lang, sql in sorted(_STOPWORD_SQL.items()))}
            FROM documents
        )
        SELECT {_LANG_CASE} AS predicted_lang, count(*) AS n
        FROM scores GROUP BY 1
    """,
    doc="Language-ID heuristic: per-language stopword-hit scores, argmax with "
    "alphabetical tie-break. Pure column expressions (no UDF).",
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(text_ops.lang_id(F.col("text")).alias("predicted_lang"))
        .groupBy("predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "text_quality_scores",
    oracle="""
        WITH t AS (
            SELECT doc_id, text,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> ''))::BIGINT AS n_tok,
                   len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                       / len(text) AS punct_ratio
            FROM documents WHERE len(text) > 0
        )
        SELECT doc_id, n_tok,
               round(least(len(text) / 500.0, 1.0) * 0.4
                     + (CASE WHEN len(text)::DOUBLE / n_tok BETWEEN 3 AND 10
                             THEN 1.0 ELSE 0.5 END) * 0.3
                     + (1.0 - least(punct_ratio * 5, 1.0)) * 0.3, 6) AS quality
        FROM t
    """,
    doc="Document quality scoring: length term + mean-token-length term + "
    "punctuation-ratio term, all JVM-side expressions.",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return docs.select(
        "doc_id",
        text_ops.token_count(F.col("text")).alias("n_tok"),
        F.round(text_ops.quality_score(F.col("text")), 6).alias("quality"),
    )


@query(
    "token_counts",
    oracle="""
        SELECT doc_id,
               len(list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> ''))::BIGINT AS ws_tokens,
               len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
                               x -> x <> ''))::BIGINT AS sub_tokens
        FROM documents
    """,
    doc="Token counting: whitespace tokens + BPE-ish alnum-run sub-tokens.",
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != ""))
    return docs.select(
        "doc_id",
        ws.cast("long").alias("ws_tokens"),
        text_ops.subtoken_count(F.col("text")).alias("sub_tokens"),
    )


@query(
    "doc_fingerprints",
    oracle="""
        SELECT doc_id,
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform(generate_series(1, greatest(len(text), 1)),
                                      i -> ascii(substr(text, i, 1))::BIGINT)),
                   (acc, c) -> (acc * 31 + c) % 2147483647) AS fingerprint
        FROM documents
    """,
    doc="Rolling polynomial fingerprint (acc*31+c mod 2^31-1) over document "
    "characters — deterministic content addressing for incremental dedup.",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text_ops.rolling_fingerprint(F.col("text")).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# Cluster resolution (pairs -> components -> canonical corpus)
# ---------------------------------------------------------------------------

@query(
    "dedup_clusters",
    oracle=f"""
        WITH RECURSIVE {_minhash_pair_ctes()},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach(node, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
        )
        SELECT node AS doc_id, min(label) AS cluster_id
        FROM reach GROUP BY node
    """,
    doc="Transitive near-dup clustering: minhash-LSH pairs -> connected "
    "components via iterative min-label propagation (join+groupBy rounds, "
    "localCheckpoint lineage truncation). cluster_id = min doc_id in the "
    "component. Oracle computes the same components with a recursive CTE.",
    bench=True,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark.operators.cluster import connected_components

    # star mode: connectivity-equivalent to all pairs (components — and
    # therefore this query's output and its oracle — are identical) but
    # linear in bucket size, so degenerate buckets (empty/boilerplate
    # docs sharing one signature) cannot go quadratic. See the sf3 cliff
    # analysis in SCALE.md.
    pairs = dedup.minhash_lsh_pairs(
        corpus_view(spark, sf_dir),
        num_hashes=_MINHASH_K,
        band_size=_BAND_SIZE,
        shingle_n=_SHINGLE_N,
        mode="star",
    )
    return connected_components(pairs)


@query(
    "dedup_canonical_corpus",
    oracle=f"""
        WITH RECURSIVE {_minhash_pair_ctes()},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach(node, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
        ),
        members AS (
            SELECT node AS doc_id, min(label) AS cluster_id
            FROM reach GROUP BY node
        )
        SELECT c.lang, count(*) AS n_docs, sum(len(c.text))::BIGINT AS total_chars
        FROM corpus c
        WHERE c.doc_id NOT IN (
            SELECT doc_id FROM members WHERE doc_id != cluster_id
        )
        GROUP BY c.lang
    """,
    doc="End-to-end corpus dedup: keep only each cluster's canonical (min-id) "
    "document, drop the rest via a broadcast anti-join, then summarize the "
    "surviving corpus per language. The full pipeline a 100 TB curation run "
    "executes: pair generation, component resolution, canonical filter.",
)
def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark.operators.cluster import dedup_canonical

    corpus = corpus_view(spark, sf_dir)
    # star mode: component-equivalent, linear in degenerate-bucket size
    pairs = dedup.minhash_lsh_pairs(
        corpus, num_hashes=_MINHASH_K, band_size=_BAND_SIZE,
        shingle_n=_SHINGLE_N, mode="star",
    )
    kept = dedup_canonical(corpus, pairs)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Corpus statistics
# ---------------------------------------------------------------------------

@query(
    "token_heavy_hitters",
    oracle="""
        WITH toks AS (
            SELECT t.token FROM documents,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t(token)
        )
        SELECT token, count(*) AS n
        FROM toks GROUP BY token
        ORDER BY n DESC, token ASC LIMIT 50
    """,
    doc="Exact corpus-level heavy hitters: explode tokens, one "
    "hash-partitioned count with map-side partial aggregation, global "
    "top-50 as TakeOrderedAndProject (per-partition heaps, no full sort).",
    bench=True,
)
def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_ops.token_heavy_hitters(docs, k=50)


@query(
    "tfidf_top_terms",
    oracle="""
        WITH pairs AS (
            SELECT doc_id, t.token, count(*) AS tf
            FROM documents,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t(token)
            WHERE len(t.token) >= 4
            GROUP BY doc_id, t.token
        ),
        docfreq AS (
            SELECT token, count(*) AS df FROM pairs GROUP BY token
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT p.doc_id, p.token,
                   round(p.tf * ln(n.n_docs::DOUBLE / d.df), 6) AS tfidf
            FROM pairs p JOIN docfreq d USING (token) CROSS JOIN n
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, token ASC) AS rank
            FROM scored
        )
        SELECT doc_id, token, tfidf, rank FROM ranked WHERE rank <= 3
    """,
    doc="Per-document top-3 TF-IDF terms, skew-safe shape: one explode "
    "into a persisted (doc, token, tf) aggregate; document frequencies "
    "from a plain groupBy over it (map-side partials, no per-token window "
    "straggler) joined back (AQE picks broadcast at runtime when the "
    "vocabulary is small); per-doc ranking is the only window.",
    bench=True,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark.operators.caching import CacheHandle

    docs = _t(spark, sf_dir, "documents")
    # The gate/bench is a one-shot caller but shares a long-lived session
    # with 98 other queries: materialize the (tiny, <= 3/doc) result into
    # its own cache, then free the corpus-sized pairs frame NOW instead
    # of letting it squat in executor storage (r9 ADVICE: caller-owned
    # lifetime via the explicit CacheHandle API).
    caches = CacheHandle()
    out = text_ops.tf_idf_top_terms(
        docs, top_terms=3, min_token_len=4, skew_safe=True, cache=caches
    )
    if len(caches):
        out = out.persist()
        out.count()
        caches.unpersist()
    return out


# ---------------------------------------------------------------------------
# Decontamination & repetition quality
# ---------------------------------------------------------------------------

@query(
    "decontaminate_benchmark",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
            FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(t) - 2, 1)),
                       i -> array_to_string(list_slice(t, i, i + 2), ' ')
                   ))) AS gram
            FROM toks
        ),
        hashed AS (
            SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
            FROM grams
        ),
        bench AS (SELECT DISTINCT gh FROM hashed WHERE doc_id % 97 = 0),
        corp AS (SELECT doc_id, gh FROM hashed WHERE doc_id % 97 != 0)
        SELECT c.doc_id, count(DISTINCT c.gh) AS n_shared
        FROM corp c JOIN bench b USING (gh)
        GROUP BY c.doc_id
    """,
    doc="Benchmark decontamination: flag training documents sharing any "
    "token 3-gram with a (deterministically chosen) eval set. Eval-side "
    "gram set is broadcast; corpus is exploded once and aggregated per "
    "document — the standard training-data hygiene pass.",
    bench=True,
)
def decontaminate_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return text_ops.benchmark_overlap(corpus, bench, n=3)


@query(
    "repetition_scores",
    oracle="""
        WITH per AS (
            SELECT doc_id, t.token, count(*) AS c
            FROM documents,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t(token)
            GROUP BY doc_id, t.token
        )
        SELECT doc_id,
               sum(c)::BIGINT AS n_tokens,
               count(*) AS n_distinct,
               round((sum(c) - count(*)) / sum(c), 6) AS dup_ratio,
               round(max(c) / sum(c), 6) AS top_share
        FROM per GROUP BY doc_id
    """,
    doc="Gopher-style within-document repetition metrics: duplicate-token "
    "ratio and most-frequent-token share. Two hash aggregations keyed on "
    "the document, map-side partial agg bounds the shuffle by distinct "
    "tokens.",
)
def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.repetition_scores(_t(spark, sf_dir, "documents"))


@query(
    "text_normalize",
    oracle="""
        SELECT doc_id,
               md5(trim(regexp_replace(
                   regexp_replace(text,
                       '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
                   '\\s+', ' ', 'g'))) AS norm_md5,
               len(trim(regexp_replace(
                   regexp_replace(text,
                       '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
                   '\\s+', ' ', 'g')))::BIGINT AS norm_len
        FROM documents
    """,
    doc="Canonical text cleaning: control-char strip + whitespace collapse "
    "+ trim, fingerprinted with md5 — the normalization pass that runs "
    "before exact dedup so formatting variants collapse. Pure regexp "
    "column expressions, one narrow pass.",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    norm = text_ops.normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("long").alias("norm_len"),
    )


# ---------------------------------------------------------------------------
# Round-4 additions: paragraph dedup, PII scrub
# ---------------------------------------------------------------------------

# Documents carry no newlines, so the paragraph pass segments them first:
# a newline after every 10th word — same regexp on both engines (no
# backreferences in the PATTERN, so Java regex and RE2 agree; only the
# replacement syntax differs: $1 vs \1).
_PARA_SEG_SPARK = (r"((\S+\s+){10})", "$1\n")


@query(
    "dedup_paragraph",
    oracle=r"""
        WITH
""" + _CORPUS_CTE.strip().rstrip() + r""",
        segmented AS (
            SELECT doc_id,
                   string_split(regexp_replace(text, '((\S+\s+){10})',
                                               '\1' || chr(10), 'g'),
                                chr(10)) AS ps
            FROM corpus
        ),
        paras0 AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(ps)),
                          i -> struct_pack(pos := i, para := trim(ps[i])))) AS s
            FROM segmented
        ),
        paras AS (
            SELECT doc_id, s.pos AS pos, s.para AS para, md5(s.para) AS fp
            FROM paras0 WHERE s.para <> ''
        ),
        marked AS (
            SELECT doc_id, pos, para,
                   row_number() OVER (PARTITION BY fp
                                      ORDER BY doc_id, pos) AS rn
            FROM paras
        )
        SELECT doc_id, count(*) AS n_para,
               sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
               md5(coalesce(
                   string_agg(CASE WHEN rn = 1 THEN para END, chr(10)
                              ORDER BY pos), '')) AS clean_md5
        FROM marked GROUP BY 1
    """,
    doc="Paragraph-level global exact dedup (the C4/RefinedWeb line-dedup "
    "pass): keep only the globally first occurrence of each distinct "
    "paragraph, reassemble per doc. Keeper election is one groupBy on the "
    "paragraph fingerprint (text never shuffles with it); winner join is "
    "an equi-join on the fingerprint; reassembly one groupBy on doc_id.",
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = corpus_view(spark, sf_dir).withColumn(
        "text", F.regexp_replace("text", *_PARA_SEG_SPARK)
    )
    return dedup.paragraph_dedup(docs)


@query(
    "boilerplate_removal",
    oracle=r"""
        WITH segmented AS (
            SELECT doc_id,
                   string_split(regexp_replace(text, '((\S+\s+){10})',
                                               '\1' || chr(10), 'g'),
                                chr(10)) AS ps
            FROM documents
        ),
        paras0 AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(ps)),
                          i -> struct_pack(pos := i, para := trim(ps[i])))) AS s
            FROM segmented
        ),
        paras AS (
            SELECT doc_id, s.pos AS pos, s.para AS para,
                   len(list_filter(string_split_regex(trim(lower(s.para)), '\s+'),
                                   x -> x <> '')) AS n_tok,
                   len(list_filter(string_split_regex(trim(lower(s.para)), '\s+'),
                                   x -> x IN ('the','a','of','and','to'))) AS n_stop
            FROM paras0 WHERE s.para <> ''
        ),
        marked AS (
            SELECT *, (n_tok < 4 OR n_stop = 0) AS boiler FROM paras
        )
        SELECT doc_id, count(*) AS n_para,
               sum(CASE WHEN boiler THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
               md5(coalesce(
                   string_agg(CASE WHEN NOT boiler THEN para END, chr(10)
                              ORDER BY pos),
                   '')) AS clean_md5
        FROM marked GROUP BY 1
    """,
    doc="Paragraph-level boilerplate removal (jusText-style density pass): "
    "a paragraph is dropped when it is under 4 tokens or has zero English "
    "stopword hits. Explode + classification are pipeline-local column "
    "expressions; the only shuffle is the per-document reassembly groupBy.",
)
def boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.regexp_replace("text", *_PARA_SEG_SPARK)
    )
    return text_ops.remove_boilerplate(docs)


@query(
    "corpus_mixing_weights",
    oracle=f"""
        WITH stats AS (
            SELECT lang, count(*) AS n_docs,
                   sum(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                       x -> x <> '')))::BIGINT AS total_tokens
            FROM documents GROUP BY 1
        ),
        tot AS (
            SELECT sum(total_tokens)::DOUBLE AS all_tokens,
                   count(*)::DOUBLE AS n_langs
            FROM stats
        )
        SELECT s.lang, s.n_docs, s.total_tokens,
               round(s.total_tokens / t.all_tokens, 6) AS current_share,
               round((1.0 / t.n_langs) / (s.total_tokens / t.all_tokens), 6)
                   AS sample_weight
        FROM stats s CROSS JOIN tot t
    """,
    doc="Corpus mixing weights: per-language token shares and the sampling "
    "weight that rebalances the corpus to a uniform target mixture "
    "(weight = target_share / current_share — multiply into per-doc "
    "sampling probabilities). One keyed aggregate; the corpus total joins "
    "in as a broadcast single-row aggregate, never a driver count.",
)
def corpus_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    stats = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text_ops.token_count(F.col("text"))).alias("total_tokens"),
    )
    tot = stats.agg(
        F.sum("total_tokens").cast("double").alias("all_tokens"),
        F.count(F.lit(1)).cast("double").alias("n_langs"),
    )
    share = F.col("total_tokens") / F.col("all_tokens")
    return stats.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "total_tokens",
        F.round(share, 6).alias("current_share"),
        F.round((F.lit(1.0) / F.col("n_langs")) / share, 6).alias("sample_weight"),
    )


@query(
    "char_entropy_quality",
    oracle="""
        WITH grams AS (
            SELECT doc_id, substr(text, i, 2) AS g
            FROM documents,
                 unnest(generate_series(1, greatest(len(text) - 1, 0))) AS t(i)
        ),
        counts AS (
            SELECT doc_id, g, count(*)::DOUBLE AS c FROM grams GROUP BY 1, 2
        ),
        tot AS (SELECT doc_id, sum(c) AS n FROM counts GROUP BY 1)
        SELECT c.doc_id, t.n::BIGINT AS n_bigrams,
               round(-sum((c.c / t.n) * log2(c.c / t.n)), 6) AS entropy_bits
        FROM counts c JOIN tot t USING (doc_id)
        GROUP BY c.doc_id, t.n
    """,
    doc="Perplexity-proxy quality signal: per-document character-bigram "
    "entropy (low entropy = repetitive/degenerate text, high = random "
    "noise; natural text sits in a band). One explode feeds a keyed "
    "(doc, bigram) count whose doc-partitioned window total is reused by "
    "the final per-doc aggregate — no UDF, two keyed shuffles, alphabet "
    "per doc is tiny so nothing grows quadratically.",
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # length < 2 guard: Spark's sequence(1, 0) yields the DESCENDING [1, 0]
    # (two phantom bigrams), while the oracle's generate_series(1, 0) is
    # empty — drop short docs on both sides so they simply have no row.
    grams = docs.filter(F.length("text") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2))"
            )
        ).alias("g"),
    )
    counts = grams.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    counts = counts.withColumn(
        "n", F.sum("c").over(Window.partitionBy("doc_id"))
    )
    p = F.col("c") / F.col("n")
    return counts.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n_bigrams"),
        F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
    )


_PII_SEED_SQL = (
    "CASE WHEN doc_id % 10 = 0 THEN text || ' contact user' || doc_id"
    " || '@example.org from 10.0.' || (doc_id % 200) || '.7 ssn"
    " 123-45-6789' ELSE text END"
)


def _pii_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@example.org from 10.0."),
                F.col("doc_id") % 200,
                F.lit(".7 ssn 123-45-6789"),
            ),
        ).otherwise(F.col("text")),
    )


def _pii_scrub_sql(col: str) -> str:
    out = col
    for pat, repl in text_ops.PII_PATTERNS.values():
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    return out


@query(
    "pii_scrub",
    oracle=f"""
        WITH seeded AS (SELECT doc_id, {_PII_SEED_SQL} AS text FROM documents)
        SELECT doc_id,
               {', '.join(
                   f"len(regexp_extract_all(text, '{pat}'))::BIGINT AS n_{name}"
                   for name, (pat, _) in text_ops.PII_PATTERNS.items())},
               md5({_pii_scrub_sql('text')}) AS scrub_md5
        FROM seeded
    """,
    doc="PII scrubbing: count + replace emails / IPv4 addresses / SSN-shaped "
    "ids with class placeholders. Pure Catalyst regexp expressions (one "
    "narrow pass, no UDF); patterns restricted to the Java-regex/RE2 "
    "common dialect so engines agree.",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    seeded = _pii_seeded(spark, sf_dir)
    return seeded.select(
        "doc_id",
        *text_ops.pii_counts(F.col("text")),
        F.md5(text_ops.pii_scrub(F.col("text"))).alias("scrub_md5"),
    )


#: deterministic URL seeding (documents.parquet has no URLs): every third
#: doc gains one URL whose domain cycles a 5-entry set, two of which are
#: blocklisted
_URL_DOMAINS = (
    "ads.example.com", "spam.example.net", "docs.example.org",
    "blog.example.com", "cdn.example.net",
)
_URL_BLOCKLIST = ("ads.example.com", "spam.example.net")

_URL_SEED_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN text || ' see https://' || "
    + "CASE doc_id % 5 "
    + " ".join(f"WHEN {i} THEN '{d}'" for i, d in enumerate(_URL_DOMAINS[:-1]))
    + f" ELSE '{_URL_DOMAINS[-1]}' END || '/p/' || doc_id ELSE text END"
)


@query(
    "url_domain_filter",
    oracle=f"""
        WITH seeded AS (
            SELECT doc_id, {_URL_SEED_SQL} AS text FROM documents
        ),
        u AS (
            SELECT doc_id,
                   regexp_extract_all(text, 'https?://[^\\s]+') AS urls
            FROM seeded
        ),
        d AS (
            SELECT doc_id, len(urls)::BIGINT AS n_urls,
                   list_transform(
                       urls, x -> lower(regexp_extract(x, 'https?://([^/\\s]+)', 1))
                   ) AS domains
            FROM u
        )
        SELECT doc_id, n_urls,
               CASE WHEN n_urls > 0 THEN domains[1] END AS first_domain,
               NOT list_has_any(
                   domains, {list(_URL_BLOCKLIST)!r}
               ) AS kept
        FROM d
    """,
    doc="URL extraction + domain blocklist filtering: regexp_extract_all "
    "pulls every http(s) URL, hosts are lowered and tested against a "
    "literal blocklist with arrays_overlap — pure Catalyst expressions, "
    "one narrow pass over the text, corpus never shuffled (a large "
    "blocklist becomes a broadcast anti-join on an exploded domain "
    "column instead).",
)
def url_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    seeded = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" see https://"),
                F.element_at(
                    F.array(*[F.lit(d) for d in _URL_DOMAINS]),
                    (F.col("doc_id") % 5 + 1).cast("int"),
                ),
                F.lit("/p/"),
                F.col("doc_id"),
            ),
        ).otherwise(F.col("text")),
    )
    urls = text_ops.extract_urls(F.col("text"))
    domains = text_ops.url_domains(urls)
    return seeded.select(
        "doc_id",
        F.size(urls).cast("long").alias("n_urls"),
        F.when(F.size(urls) > 0, F.element_at(domains, 1)).alias("first_domain"),
        text_ops.domain_blocklist_keep(domains, _URL_BLOCKLIST).alias("kept"),
    )


@query(
    "dedup_exact_substring",
    oracle=f"""
        WITH {_CORPUS_CTE},
        grams AS (
            SELECT doc_id, md5(substr(text, i, 40)) AS g
            FROM corpus,
                 unnest(generate_series(1, len(text) - 39, 10)) AS t(i)
            WHERE len(text) >= 40
        ),
        cnt AS (SELECT g, count(*) AS c FROM grams GROUP BY 1)
        SELECT doc_id,
               count(*) AS n_grams,
               sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_grams,
               round(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)::DOUBLE
                     / count(*), 6) AS dup_ratio
        FROM grams JOIN cnt USING (g)
        GROUP BY doc_id
    """,
    doc="ExactSubstr-style duplication signal: strided 40-char gram "
    "fingerprints; a gram occurring more than once in the corpus marks "
    "its span duplicated — the substring-level signal whole-document "
    "minhash misses (long quoted passages inside otherwise-unique "
    "pages). ONE explode into a PERSISTED grams frame, per-gram counts "
    "as a plain groupBy joined back on the fingerprint (map-side "
    "partials + AQE skew split; a per-gram window would single-task a "
    "boilerplate gram shared by half the crawl); the text column never "
    "shuffles and nothing is quadratic. The gate owns the grams-cache "
    "lifetime through a CacheHandle.",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark.operators.caching import CacheHandle

    # gate owns the cache lifetime (r9 ADVICE): materialize the per-doc
    # result, free the corpus-sized grams frame immediately
    caches = CacheHandle()
    out = dedup.exact_substring_duplication(
        corpus_view(spark, sf_dir), gram=40, stride=10, cache=caches
    )
    if len(caches):
        out = out.persist()
        out.count()
        caches.unpersist()
    return out


@query(
    "dedup_incremental_ingest",
    oracle=f"""
        WITH {_minhash_pair_ctes()},
        marked AS (
            SELECT band_idx, band_key, doc_id,
                   doc_id >= 1000000 AS is_new
            FROM bands
        ),
        w1 AS (
            SELECT *, count(*) OVER wpk AS sz,
                   min(doc_id) OVER wpk AS hub1
            FROM marked
            WINDOW wpk AS (PARTITION BY band_idx, band_key)
        ),
        w2 AS (
            SELECT *, min(CASE WHEN doc_id = hub1 THEN NULL
                               ELSE doc_id END)
                          OVER (PARTITION BY band_idx, band_key) AS hub2
            FROM w1
        )
        SELECT DISTINCT doc_id AS new_id,
               CASE WHEN doc_id = hub1 THEN hub2 ELSE hub1 END AS dup_of
        FROM w2
        WHERE is_new AND sz > 1
          AND (CASE WHEN doc_id = hub1 THEN hub2 ELSE hub1 END) IS NOT NULL
          AND (CASE WHEN doc_id = hub1 THEN hub2 ELSE hub1 END) != doc_id
    """,
    doc="Incremental-ingest dedup: the planted duplicate rows (doc_id >= "
    "1e6, corpus_view's exact and near copies) play the incoming batch, "
    "the base documents table the existing corpus. One signature pass "
    "over corpus UNION batch (the new-flag rides the aggregate), one "
    "bucket groupBy, per-bucket witness expansion — edges linear in "
    "new-batch bucket membership, never the cross product; no join. The "
    "pattern a continuously-growing corpus runs per ingest instead of "
    "re-deduping everything.",
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = corpus_view(spark, sf_dir)
    existing = corpus.filter(F.col("doc_id") < 1000000)
    incoming = corpus.filter(F.col("doc_id") >= 1000000)
    return dedup.minhash_lsh_incremental(
        incoming, existing,
        num_hashes=_MINHASH_K, band_size=_BAND_SIZE, shingle_n=_SHINGLE_N,
    )


# ---------------------------------------------------------------------------
# Context-window chunking + per-language quality quantile gate (r8)
# ---------------------------------------------------------------------------

@query(
    "chunk_documents",
    oracle="""
        WITH c AS (
            SELECT doc_id,
                   UNNEST(list_transform(
                       generate_series(0,
                           CAST(greatest(ceil((greatest(len(text), 1) - 32)
                                              / 224.0), 1) AS BIGINT) - 1),
                       i -> struct_pack(
                           idx := i,
                           txt := substr(text, CAST(i * 224 AS INT) + 1,
                                         256)))) AS ch
            FROM documents
        )
        SELECT doc_id, ch.idx AS chunk_idx,
               len(ch.txt)::BIGINT AS chunk_len, md5(ch.txt) AS chunk_md5
        FROM c
    """,
    doc="Context-window chunking: size-256 chunks with 32-char overlap "
    "(stride 224) via one sequence explode + substr — map-only, the text "
    "column never shuffles. Chunk payloads compare as md5 so the value "
    "hash covers every chunk boundary byte.",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    chunks = text_ops.chunk_documents(docs, size=256, overlap=32)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.length("chunk_text").cast("long").alias("chunk_len"),
        F.md5("chunk_text").alias("chunk_md5"),
    )


@query(
    "quality_quantile_filter",
    oracle="""
        WITH t AS (
            SELECT doc_id, lang, text,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> ''))::BIGINT AS n_tok,
                   len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                       / len(text) AS punct_ratio
            FROM documents WHERE len(text) > 0
        ),
        s AS (
            SELECT doc_id, lang,
                   round(least(len(text) / 500.0, 1.0) * 0.4
                         + (CASE WHEN len(text)::DOUBLE / n_tok
                                      BETWEEN 3 AND 10
                                 THEN 1.0 ELSE 0.5 END) * 0.3
                         + (1.0 - least(punct_ratio * 5, 1.0)) * 0.3,
                         6) AS quality
            FROM t
        ),
        r AS (
            SELECT lang, quality,
                   cume_dist() OVER (PARTITION BY lang
                                     ORDER BY quality, doc_id) AS cd
            FROM s
        )
        SELECT lang, count(*) AS n_kept,
               sum(CAST(round(quality * 1000000, 0) AS BIGINT)) AS sum_q6
        FROM r WHERE cd > 0.5 GROUP BY 1
    """,
    doc="Per-language quality-quantile gate: keep documents strictly above "
    "the median quality cume_dist WITHIN their language (total order "
    "on (quality, doc_id) makes the kept set deterministic and "
    "engine-portable), then summarize kept mass per language. sum_q6 is "
    "an integer micro-quality sum so the aggregate is order-independent "
    "across distributed partial sums.",
)
def quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    kept = text_ops.quality_quantile_filter(docs, quantile=0.5)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.round(F.col("quality") * 1000000, 0).cast("long")).alias(
            "sum_q6"
        ),
    )


@query(
    "cross_source_ngram_overlap",
    bench=True,
    oracle=r"""
        WITH docs AS (
            SELECT source,
                   list_filter(
                       string_split_regex(
                           regexp_replace(lower(text), '[^a-z0-9\s]', ' ',
                                          'g'),
                           '\s+'),
                       x -> x <> '') AS ws
            FROM documents
        ),
        idx AS (
            SELECT source, ws,
                   unnest(generate_series(1, greatest(len(ws) - 4, 0))) AS i
            FROM docs WHERE len(ws) >= 5
        ),
        grams AS (
            SELECT DISTINCT source,
                   array_to_string(ws[i:i+4], ' ') AS g
            FROM idx
        ),
        totals AS (
            SELECT source, count(*) AS n_grams FROM grams GROUP BY source
        ),
        shared AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   count(*) AS n_shared
            FROM grams a JOIN grams b
              ON a.g = b.g AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT s.source_a, s.source_b, s.n_shared,
               ta.n_grams AS grams_a, tb.n_grams AS grams_b,
               s.n_shared / least(ta.n_grams, tb.n_grams * 1.0)
                   AS containment
        FROM shared s
        JOIN totals ta ON ta.source = s.source_a
        JOIN totals tb ON tb.source = s.source_b
    """,
    doc="Cross-source contamination matrix: for every pair of corpus "
    "sources, how many distinct word 5-grams they share and the "
    "containment fraction (shared / smaller source's gram count) — the "
    "'how much of source A leaks into source B' audit run before mixing "
    "corpora. Plan: one explode to DISTINCT (source, gram), one "
    "self-equi-join on the gram, two broadcast joins against the 20-row "
    "per-source totals. Scale: per-gram join fan-out is bounded by "
    "C(n_sources, 2) regardless of corpus size (a gram in k sources "
    "contributes k-choose-2 pairs), and the output is the fixed "
    "source-pair matrix — corpus growth only widens the gram explode, "
    "which is the same map-side shape as token_heavy_hitters.",
)
def cross_source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    words = F.filter(
        F.split(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9\s]", " "), r"\s+"
        ),
        lambda x: x != "",
    )
    d = docs.select("source", words.alias("ws"))
    grams = d.select(
        "source",
        F.explode(
            # Spark's sequence(1, 0) yields the DESCENDING [1, 0] (the
            # pipeline.py:1463 trap), so sub-5-word docs must emit an
            # EMPTY gram array, not hit slice(ws, 0, 5).
            F.when(
                F.size("ws") >= 5,
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 4),
                    lambda i: F.concat_ws(" ", F.slice("ws", i, 5)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    # ONE pass (r17, guide §2.2/§3.4): the pre-r17 form ran
    # distinct → self-equi-join on the gram → totals — Catalyst planned
    # the scan+explode+distinct subtree FOUR times (self-join sides + two
    # totals references; plans/r17/cross_source_ngram_overlap_before.txt
    # shows 4 parquet scans). collect_set per gram replaces BOTH the
    # distinct and the self-join: sources-per-gram is bounded by the
    # number of corpus sources (~20), so pair expansion is a closed-form
    # array op, k·(k-1)/2 ≤ C(n_sources,2) structs per gram — the same
    # bounded fan-out the old join had, without re-reading the corpus.
    per_gram = grams.groupBy("g").agg(
        F.array_sort(F.collect_set("source")).alias("ss")
    )
    # Pair entries (a<b holds by construction on the sorted set) and
    # singleton entries (a, NULL) in one explode; one count gives both
    # the shared matrix and the per-source totals.
    ss = F.col("ss")
    pair_structs = F.flatten(
        F.transform(
            ss,
            lambda x, i: F.transform(
                F.slice(ss, i + F.lit(2), F.size(ss)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    single_structs = F.transform(
        ss, lambda x: F.struct(x.alias("a"), F.lit(None).cast("string").alias("b"))
    )
    counts = (
        per_gram.select(
            F.explode(F.concat(pair_structs, single_structs)).alias("e")
        )
        .groupBy("e")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Single-row collect_list barrier, then PURE ARRAY expressions (r18,
    # guide §2.4 — remove exchanges outright): the collected row is
    # bounded by n_sources + C(n_sources, 2) (~210 structs at ~20
    # sources), so the shared matrix AND the per-source totals lookup
    # both come straight out of that one row — the pair rows from a
    # filter of the array, the totals as a map built from the singleton
    # entries. The r17 form re-derived three DataFrame consumers
    # (shared/ta/tb) from an exploded view of the same row and stitched
    # them back with two broadcast joins; that cost two broadcast
    # exchanges, two join stages, and the AQE ReusedExchange machinery
    # to keep the corpus pass single (each broadcast build re-executed
    # the plan up to the reused exchange). Single consumer → nothing to
    # reuse, 3 fewer exchanges (22 → 9 static), same rows bit-for-bit.
    one = counts.agg(F.collect_list(F.struct("e.a", "e.b", "n")).alias("rows"))
    rows_c = F.col("rows")
    is_single = lambda r: r["b"].isNull()  # noqa: E731
    tot_map = F.map_from_arrays(
        F.transform(F.filter(rows_c, is_single), lambda r: r["a"]),
        F.transform(F.filter(rows_c, is_single), lambda r: r["n"]),
    )
    pair_rows = F.filter(rows_c, lambda r: r["b"].isNotNull())
    return (
        one.select(
            F.explode(pair_rows).alias("p"), tot_map.alias("_tm")
        )
        .select(
            F.col("p.a").alias("source_a"),
            F.col("p.b").alias("source_b"),
            F.col("p.n").alias("n_shared"),
            F.element_at(F.col("_tm"), F.col("p.a")).alias("grams_a"),
            F.element_at(F.col("_tm"), F.col("p.b")).alias("grams_b"),
        )
        .select(
            "source_a", "source_b", "n_shared", "grams_a", "grams_b",
            (F.col("n_shared") / F.least("grams_a", F.col("grams_b") * 1.0)).alias("containment"),
        )
    )
