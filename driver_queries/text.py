"""LLM-data-pipeline text operators (SURVEY §2.8): dedup, similarity,
retrieval, tokenizers, language models and sampling.  All hashes are
md5-derived so the DuckDB oracles run the IDENTICAL algorithm (SQL
fragments generated below)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vtk_reserves_spark.functions import text as TX
from vtk_reserves_spark.functions.vectors import deterministic_hyperplanes
from vtk_reserves_spark.operators.dedup import (
    duplicate_clusters,
    exact_dedup,
    minhash_lsh_pairs,
    with_minhash,
    ngram_jaccard_pairs,
    simhash,
    winnow_fingerprints,
)
from vtk_reserves_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_topk,
)

from driver_queries._common import _read, _spread


#: SQL fragment: normalized whitespace tokens of a text column
_TOKS_SQL = (
    r"list_filter(string_split_regex(trim(regexp_replace("
    r"regexp_replace(lower({c}), '[^a-z0-9\s]', ' ', 'g'), "
    r"'\s+', ' ', 'g')), '\s+'), w -> w != '')"
)
_RAW_TOKS_SQL = r"list_filter(string_split_regex(trim({c}), '\s+'), w -> w != '')"


def _perm_ab(s: int, seed: str = "mh") -> tuple[int, int]:
    """The (a, b) constants of MinHash permutation ``s`` — same literals
    the Spark expression inlines (dedup.minhash_perm_consts)."""
    from vtk_reserves_spark.operators.dedup import minhash_perm_consts

    return minhash_perm_consts(s + 1, seed)[s]


def _sig_sql(col: str, s: int, seed: str = "mh") -> str:
    toks = f"list_distinct({_TOKS_SQL.format(c=col)})"
    a, b = _perm_ab(s, seed)
    return (
        f"list_min(list_transform({toks}, "
        f"w -> ({a} * ('0x' || substr(md5(w), 1, 8))::BIGINT + {b}) % 4294967311))"
    )


def _shingle_sql(tvar: str, n: int = 3) -> str:
    """Distinct word n-gram set over a token-list column ``tvar`` —
    mirrors vtk_reserves_spark.functions.text.shingles (incl. the
    short-text fallback of a single whole-text gram)."""
    gram = " || ' ' || ".join(f"{tvar}[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len({tvar}) - {n - 1} > 0 THEN "
        f"list_distinct(list_transform(range(1, len({tvar}) - {n - 2}), "
        f"i -> {gram})) "
        f"ELSE [array_to_string({tvar}, ' ')] END"
    )


def _sig_over_sql(grams_var: str, s: int, seed: str = "mh") -> str:
    """MinHash signature element over a precomputed gram-list column."""
    a, b = _perm_ab(s, seed)
    return (
        f"list_min(list_transform({grams_var}, "
        f"w -> ({a} * ('0x' || substr(md5(w), 1, 8))::BIGINT + {b}) % 4294967311))"
    )


#: both = documents plus a truncated-copy twin (deterministic near-dups)
_BOTH_SQL = """
    WITH uni AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id,
             substring(text, 1, greatest(length(text) - 5, 1)) AS text
      FROM documents
    )
"""


def _mutated(docs: DataFrame) -> DataFrame:
    return docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, greatest(length(text) - 5, 1))").alias("text"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    both = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    return exact_dedup(both, "text", "doc_id").select("keep_id", "n_dups")
q_dedup_exact.oracle = """
            WITH uni AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, text FROM documents
            )
            SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
            FROM uni GROUP BY text
        """


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    sig = F.col("minhash")
    return with_minhash(docs.select("doc_id", "text"), "text", k=4).select(
        "doc_id",
        sig[0].alias("s0"),
        sig[1].alias("s1"),
        sig[2].alias("s2"),
        sig[3].alias("s3"),
    )
q_minhash_signatures.oracle = f"""
            SELECT doc_id, {_sig_sql('text', 0)} AS s0, {_sig_sql('text', 1)} AS s1,
                   {_sig_sql('text', 2)} AS s2, {_sig_sql('text', 3)} AS s3
            FROM documents
        """


# 8-hash signatures over the word-TRIGRAM shingle set (see
# q_dedup_minhash_lsh for why unigrams degenerate on this corpus);
# shingles computed once in a CTE, signatures over the gram list
sigs8 = ",\n             ".join(
    f"{_sig_over_sql('grams', s)} AS s{s}" for s in range(8)
)
shin_cte = (
    f", shin AS (\n"
    f"              SELECT doc_id, {_shingle_sql('t', 3)} AS grams\n"
    f"              FROM (SELECT doc_id, {_TOKS_SQL.format(c='text')} AS t FROM uni)\n"
    f"            )"
)
bands = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, {b} AS band, "
    f"concat_ws('_', s{2*b}, s{2*b+1}) AS key FROM sigs"
    for b in range(4)
)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ngrams=3: the synthetic corpus has a ~31-word vocabulary, so every
    # doc contains nearly every word and UNIGRAM minhash degenerates (all
    # docs collide into one bucket -> O(n^2) pairs).  Word-trigram
    # shingles discriminate (measured cross-doc trigram Jaccard ~0.001).
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    both = docs.unionByName(_mutated(docs))
    return minhash_lsh_pairs(both, "doc_id", "text", k=8, bands=4, ngrams=3)
q_dedup_minhash_lsh.oracle = (
    _BOTH_SQL
    + shin_cte
    + f""", sigs AS (
              SELECT doc_id, {sigs8}
              FROM shin
            ), bands AS (
        {bands}
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        """
)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: LSH candidate pairs -> connected
    components (min reachable doc_id per node), singletons included —
    the step that turns pairwise near-dup evidence into a keep/drop
    decision.  Oracle: DuckDB recursive CTE over the identical pair
    list (min reachable id is engine-independent)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    both = docs.unionByName(_mutated(docs))
    pairs = minhash_lsh_pairs(both, "doc_id", "text", k=8, bands=4, ngrams=3)
    return duplicate_clusters(pairs, nodes=both, id_col="doc_id")
q_dedup_clusters.oracle = (
    _BOTH_SQL.replace("WITH uni", "WITH RECURSIVE uni")
    + shin_cte
    + f""", sigs AS (
              SELECT doc_id, {sigs8}
              FROM shin
            ), bands AS (
        {bands}
            ), cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            ), edges AS (
              SELECT id_a AS src, id_b AS dst FROM cand
              UNION ALL
              SELECT id_b AS src, id_a AS dst FROM cand
            ), reach(id, lbl) AS (
              SELECT doc_id, doc_id FROM uni
              UNION
              SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
            )
            SELECT id AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY id
        """
)


def q_pivot_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivoted breakdown (the reference's report shape — MultiIndex
    columns flattened to one column per category, bm_breakdown.py
    result frame): document counts by source × lang.  Pivot values are
    passed explicitly so Spark skips the extra distinct-scan job and
    lowers the pivot to ONE hash aggregate with map-side combine."""
    docs = _read(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    out = docs.groupBy("source").pivot("lang", langs).count()
    return out.select(
        "source",
        *[F.coalesce(F.col(l), F.lit(0)).alias(f"n_{l}") for l in langs],
    )
q_pivot_report.oracle = """
            SELECT source,
                   count(*) FILTER (lang = 'de') AS n_de,
                   count(*) FILTER (lang = 'en') AS n_en,
                   count(*) FILTER (lang = 'es') AS n_es,
                   count(*) FILTER (lang = 'fr') AS n_fr,
                   count(*) FILTER (lang = 'zh') AS n_zh
            FROM documents GROUP BY source
        """


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling (training-corpus mixture,
    downsample side): each language keeps a target fraction, membership
    decided by md5(doc_id) so the sample is reproducible on any
    partitioning and the oracle runs the identical arithmetic."""
    from vtk_reserves_spark.operators.sampling import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        "lang",
        {"en": 1.0, "zh": 0.5, "de": 0.25, "fr": 0.1},
        "doc_id",
        default=0.05,
    ).select("doc_id", "lang")
q_stratified_sample.oracle = """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5('samp_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    % 1000000
                  < CASE lang WHEN 'en' THEN 1000000 WHEN 'zh' THEN 500000
                              WHEN 'de' THEN 250000 WHEN 'fr' THEN 100000
                              ELSE 50000 END
        """


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixture with epoch upsampling (the LLM
    domain-weights step): stratum weight w emits floor(w) full epochs
    plus a hash-selected fractional epoch — e.g. zh×2.5 duplicates every
    zh doc twice and half of them a third time."""
    from vtk_reserves_spark.operators.sampling import mix_corpus

    docs = _read(spark, sf_dir, "documents")
    return mix_corpus(
        docs, "lang", {"en": 1.0, "zh": 2.5, "de": 2.0, "fr": 0.5}, "doc_id"
    ).select("doc_id", "lang", "epoch")
q_corpus_mix.oracle = """
            WITH e AS (
              SELECT doc_id, lang,
                     CAST(unnest(range(1,
                       CASE lang WHEN 'zh' THEN 3 WHEN 'de' THEN 2
                                 WHEN 'fr' THEN 1 ELSE 1 END + 1)) AS INT) AS epoch
              FROM documents
            )
            SELECT doc_id, lang, epoch FROM e
            WHERE epoch <= CASE lang WHEN 'zh' THEN 2 WHEN 'de' THEN 2
                                     WHEN 'fr' THEN 0 ELSE 1 END
               OR ('0x' || substr(md5('mix_' || CAST(doc_id AS VARCHAR) || '#'
                                      || CAST(epoch AS VARCHAR)), 1, 8))::BIGINT
                    % 1000000
                  < CASE lang WHEN 'zh' THEN 500000 WHEN 'fr' THEN 500000
                              ELSE 0 END
        """


toks = _TOKS_SQL.format(c="text")


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (winnowing/MOSS) document fingerprints: distinct
    window-minimum gram hashes per document — detects partial/local
    overlap between documents."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    # testdata is one small parquet file = one input split; spread the
    # hash-heavy pipeline across cores (at scale the input arrives in
    # many splits and this shuffle is unnecessary — keep it query-side)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return winnow_fingerprints(docs, "doc_id", "text", ngrams=3, window=4)
q_winnow_fingerprint.oracle = f"""
            WITH t AS (
              SELECT doc_id, {toks} AS t FROM documents
            ), g AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3 THEN
                       list_transform(range(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE [array_to_string(t, ' ')] END AS g
              FROM t
            ), h AS (
              SELECT doc_id,
                     list_transform(g, w -> ('0x' || substr(md5(w), 1, 8))::BIGINT) AS h
              FROM g
            ), f AS (
              SELECT doc_id,
                     CASE WHEN len(h) - 3 > 0 THEN
                       list_distinct(list_transform(range(1, len(h) - 2),
                                                    i -> list_min(h[i:i+3])))
                     ELSE [list_min(h)] END AS fps
              FROM h
            )
            SELECT DISTINCT doc_id, fp
            FROM (SELECT doc_id, unnest(fps) AS fp FROM f)
        """


simhash_bits = " + ".join(
    f"CASE WHEN 2*len(list_filter({toks}, "
    f"w -> (('0x'||substr(md5('sh_'||w),1,8))::BIGINT >> {b}) & 1 = 1)) "
    f"> len({toks}) THEN {1 << b} ELSE 0 END"
    for b in range(16)
)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash(F.col("text"), bits=16).alias("sh"))
q_dedup_simhash.oracle = f"""
            SELECT doc_id, CAST({simhash_bits} AS BIGINT) AS sh FROM documents
        """


# wide (48-bit) signatures use the 60-bit word hash (15 hex digits)
# mirroring operators/dedup.simhash — the 8-digit hash would zero
# every bit past 31 and collapse the high bands into one bucket
simhash_bits_wide = " + ".join(
    f"CASE WHEN 2*len(list_filter({toks}, "
    f"w -> (('0x'||substr(md5('sh_'||w),1,15))::BIGINT >> {b}) & 1 = 1)) "
    f"> len({toks}) THEN {1 << b}::BIGINT ELSE 0 END"
    for b in range(48)
)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via Hamming band blocking
    (operators/dedup.simhash_pairs): 48 bits in 4 bands (12-bit band
    keys — the bucket-granularity knob; 4-bit keys measured OOM on 10k
    docs from quadratic buckets) — pigeonhole guarantees every pair at
    Hamming <= 3 shares a band, so the bucketed plan is exactly
    equivalent to the oracle's brute-force join."""
    from vtk_reserves_spark.operators.dedup import simhash_pairs

    # deterministic 20% subsample: the synthetic corpus is drawn from
    # templates, so near-dup CLUSTERS are dense and the pair count grows
    # quadratically with corpus size (~300k pairs at sf0.1) — the
    # operator is linear in buckets, but a pair LIST that size is not a
    # useful fixture result
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") % 5 == 0)
    )
    both = docs.unionByName(_mutated(docs))
    # exact-dedup FIRST (the real pipeline order): identical short docs
    # form hamming-0 cliques whose pair count grows quadratically —
    # measured 300k pairs / 30s+ at sf0.1 without this step, 10x less with
    from pyspark.sql import Window as W

    uniq = both.withColumn(
        "_rn", F.row_number().over(W.partitionBy("text").orderBy("doc_id"))
    ).where(F.col("_rn") == 1).drop("_rn")
    out = simhash_pairs(uniq, "doc_id", "text", bits=48, bands=4)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
q_simhash_pairs.oracle = (
    _BOTH_SQL
    + f""", samp AS (
              SELECT doc_id, text FROM uni
              WHERE (doc_id % 100000) % 5 = 0
            ), uniq AS (
              SELECT doc_id, text FROM (
                SELECT doc_id, text,
                       ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
                FROM samp) WHERE rn = 1
            ), sh AS (
              SELECT doc_id, CAST({simhash_bits_wide} AS BIGINT) AS sh
              FROM uniq
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 3
        """
)


grams = (
    f"list_distinct(list_transform(range(1, len({toks})), "
    f"i -> {toks}[i] || ' ' || {toks}[i+1]))"
)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    both = _spread(docs.unionByName(_mutated(docs)), "doc_id")
    blocking = minhash_lsh_pairs(both, "doc_id", "text", k=8, bands=4, ngrams=3)
    return ngram_jaccard_pairs(both, "doc_id", "text", n=2, threshold=0.5, blocking=blocking)
q_ngram_jaccard.oracle = (
    _BOTH_SQL
    + shin_cte
    + f""", sigs AS (
              SELECT doc_id, {sigs8}
              FROM shin
            ), bands AS (
        {bands}
            ), cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            ), g AS (
              SELECT doc_id, {grams} AS grams FROM uni
            )
            SELECT c.id_a, c.id_b,
                   CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                     / (len(ga.grams) + len(gb.grams)
                        - len(list_intersect(ga.grams, gb.grams))) AS jaccard
            FROM cand c
            JOIN g ga ON ga.doc_id = c.id_a
            JOIN g gb ON gb.doc_id = c.id_b
            WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                    / (len(ga.grams) + len(gb.grams)
                       - len(list_intersect(ga.grams, gb.grams))) >= 0.5
        """
)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (smoothed) top-3 terms per document — explode once,
    broadcast the tiny term->IDF map, one keyed window for top-k."""
    from vtk_reserves_spark.operators.terms import tfidf_top_terms

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(docs, "doc_id", "text", top_k=3)
q_tfidf_top_terms.oracle = f"""
            WITH tok AS (
              SELECT doc_id, unnest({toks}) AS term FROM documents
            ), tf AS (
              SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
            ), dfq AS (
              SELECT term, COUNT(DISTINCT doc_id) AS dft FROM tok GROUP BY term
            ), n AS (
              SELECT COUNT(*) AS nn FROM documents
            ), scored AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     tf.tf * (ln((n.nn + 1.0) / (dfq.dft + 1.0)) + 1.0) AS score
              FROM tf JOIN dfq USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, tf, score, CAST(rank AS INT) AS rank FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term ASC
              ) AS rank
              FROM scored
            ) WHERE rank <= 3
        """


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join (operators/dedup.fuzzy_join_pairs):
    plant one-character typos into 100 part names, then recover every
    (original, typo) pair within 2 edits via q-gram blocking + exact
    Levenshtein — the oracle brute-forces all pairs, which matches
    because the q-gram lemma guarantees completeness at these string
    lengths (>= 9 chars for q=3, t=2)."""
    from vtk_reserves_spark.operators.dedup import fuzzy_join_pairs

    part = (
        _read(spark, sf_dir, "part")
        .select("p_partkey", "p_name")
        .where(F.col("p_partkey") <= 100)
    )
    typos = part.select(
        (F.col("p_partkey") + 1000000).alias("p_partkey"),
        F.concat(F.lit("x"), F.expr("substring(p_name, 2)")).alias("p_name"),
    )
    both = part.unionByName(typos)
    return fuzzy_join_pairs(both, "p_partkey", "p_name", max_distance=2)
q_fuzzy_join.oracle = """
            WITH base AS (
              SELECT p_partkey AS id, lower(p_name) AS s
              FROM part WHERE p_partkey <= 100
              UNION ALL
              SELECT p_partkey + 1000000,
                     lower('x' || substr(p_name, 2))
              FROM part WHERE p_partkey <= 100
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(levenshtein(a.s, b.s) AS INT) AS dist
            FROM base a JOIN base b ON a.id < b.id
            WHERE abs(length(a.s) - length(b.s)) <= 2
              AND levenshtein(a.s, b.s) <= 2
        """


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (operators/similarity.kmeans_fit):
    k=8, EXACTLY two iterations from the deterministic first-k init —
    a fixed iteration count is what makes the oracle possible (DuckDB
    replays both assign/update rounds in CTEs; run-to-convergence
    would not be SQL-expressible).  Centroids emit in long form
    (centroid_id, dim, value) so every output column is a scalar."""
    from vtk_reserves_spark.operators.similarity import kmeans_fit

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = kmeans_fit(emb, "vec_id", "embedding", k=8, n_iter=2)
    return cent.select(
        "centroid_id",
        "n_assigned",
        F.posexplode("centroid").alias("dim", "value"),
    ).select(
        "centroid_id", "n_assigned", "dim", F.round("value", 6).alias("value")
    )
q_kmeans.oracle = """
            WITH e AS (
              SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                     CAST(embedding[i] AS DOUBLE) AS x
              FROM embeddings,
                   LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                            AS i)
            ), c0 AS (
              SELECT CAST(vec_id AS INT) AS centroid_id, dim, x AS v
              FROM e WHERE vec_id < 8
            ), d1 AS (
              SELECT e.vec_id, c.centroid_id, SUM((e.x - c.v) * (e.x - c.v))
                     AS d2
              FROM e JOIN c0 c ON e.dim = c.dim
              GROUP BY e.vec_id, c.centroid_id
            ), a1 AS (
              SELECT vec_id, centroid_id FROM (
                SELECT vec_id, centroid_id, ROW_NUMBER() OVER (
                  PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC
                ) AS rn FROM d1
              ) WHERE rn = 1
            ), c1 AS (
              SELECT a1.centroid_id, e.dim, AVG(e.x) AS v
              FROM a1 JOIN e USING (vec_id)
              GROUP BY a1.centroid_id, e.dim
            ), d2t AS (
              SELECT e.vec_id, c.centroid_id, SUM((e.x - c.v) * (e.x - c.v))
                     AS d2
              FROM e JOIN c1 c ON e.dim = c.dim
              GROUP BY e.vec_id, c.centroid_id
            ), a2 AS (
              SELECT vec_id, centroid_id FROM (
                SELECT vec_id, centroid_id, ROW_NUMBER() OVER (
                  PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC
                ) AS rn FROM d2t
              ) WHERE rn = 1
            ), c2 AS (
              SELECT a2.centroid_id, e.dim, AVG(e.x) AS v
              FROM a2 JOIN e USING (vec_id)
              GROUP BY a2.centroid_id, e.dim
            ), n2 AS (
              SELECT centroid_id, COUNT(*) AS n_assigned
              FROM a2 GROUP BY centroid_id
            )
            SELECT c2.centroid_id, n2.n_assigned, c2.dim,
                   ROUND(c2.v, 6) AS value
            FROM c2 JOIN n2 USING (centroid_id)
        """


def q_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length-percentile filter (the C4/Gopher cleaning rule):
    keep documents whose n_chars lies within the corpus's exact
    [p05, p95]; the two quantiles reduce to ONE scalar row broadcast
    back over the scan — no second shuffle, no driver round-trip."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bounds = docs.agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    return (
        docs.crossJoin(F.broadcast(bounds))
        .where(F.col("n_chars").between(F.col("lo"), F.col("hi")))
        .select("doc_id", "n_chars", "lo", "hi")
    )
q_length_filter.oracle = """
            WITH bounds AS (
              SELECT quantile_cont(n_chars, 0.05) AS lo,
                     quantile_cont(n_chars, 0.95) AS hi
              FROM documents
            )
            SELECT doc_id, n_chars, lo, hi
            FROM documents CROSS JOIN bounds
            WHERE n_chars BETWEEN lo AND hi
        """


def q_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (operators/packing.py): token spans in
    8 deterministic md5 shards at a 512-token window — ONE keyed shuffle,
    running-sum window per shard, never a global window."""
    from vtk_reserves_spark.operators.packing import pack_offsets

    docs = _read(spark, sf_dir, "documents")
    with_toks = docs.select(
        "doc_id", TX.token_count(F.col("text")).alias("n_tokens")
    )
    return pack_offsets(with_toks, "doc_id", "n_tokens", window=512, shards=8)
q_pack_offsets.oracle = f"""
            WITH t AS (
              SELECT doc_id,
                     CAST(len({_RAW_TOKS_SQL.format(c="text")}) AS BIGINT) AS n,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                          % 8 AS INT) AS shard
              FROM documents
            ), c AS (
              SELECT doc_id, shard, n,
                     CAST(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
              FROM t
            )
            SELECT doc_id, shard,
                   e - n AS start_tok,
                   (e - n) // 512 AS bin_first,
                   GREATEST((e - n) // 512, (e - 1) // 512) AS bin_last
            FROM c
        """


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (operators/packing.chunk_documents): 32-
    token chunks with 8-token overlap over the normalized corpus — the
    retrieval/embedding preprocessing step; pure Catalyst (tokenize +
    bounded sequence explode + slice), narrow, no shuffle."""
    from vtk_reserves_spark.operators.packing import chunk_documents

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=32, overlap=8)
q_chunk_documents.oracle = f"""
            WITH tok AS (
              SELECT doc_id, {_TOKS_SQL.format(c='text')} AS t FROM documents
            ), base AS (
              SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0
            ), starts AS (
              SELECT doc_id, t, n, unnest(generate_series(0, n - 1, 24)) AS s
              FROM base
            ), kept AS (
              SELECT * FROM starts WHERE s = 0 OR s < n - 8
            )
            SELECT doc_id,
                   CAST(s / 24 AS INT) AS chunk_id,
                   CAST(s AS INT) AS start_tok,
                   CAST(LEAST(32, n - s) AS INT) AS n_tokens,
                   array_to_string(list_slice(t, s + 1, s + 32), ' ')
                     AS chunk_text
            FROM kept
        """


def q_melt_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long unpivot (SURVEY §2.6 reshape family): lineitem's three
    money/quantity measures melt into (key, measure, value) rows via
    Spark's native ``unpivot`` (Expand under the hood — narrow, one
    pass, no shuffle; the reference's pandas analog is ``melt``)."""
    li = _read(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount",
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    )
q_melt_measures.oracle = """
            SELECT l_orderkey, l_linenumber,
                   'l_quantity' AS measure, l_quantity AS value
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber,
                   'l_extendedprice', l_extendedprice FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber,
                   'l_discount', l_discount FROM lineitem
        """


def q_charlm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-bigram LM perplexity (operators/terms.charlm_perplexity):
    the CCNet-style fluency filter, model trained on the corpus itself
    in the same job — one bigram explode feeds both the (tiny,
    broadcast) smoothed model and the per-document counts, pure
    Catalyst end to end."""
    from vtk_reserves_spark.operators.terms import charlm_perplexity

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = charlm_perplexity(docs, "doc_id", "text", alpha=0.5)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_logp", 6).alias("avg_logp"),
        F.round("ppl", 6).alias("ppl"),
    )
q_charlm_perplexity.oracle = """
            WITH bi AS (
              SELECT doc_id, substr(text, i, 2) AS bg
              FROM documents,
                   LATERAL (SELECT unnest(generate_series(1, length(text) - 1)) AS i)
              WHERE length(text) >= 2
            ), model AS (
              SELECT bg, COUNT(*) AS n12 FROM bi GROUP BY bg
            ), tot AS (
              SELECT substr(bg, 1, 1) AS c1, SUM(n12) AS n1
              FROM model GROUP BY 1
            ), v AS (
              SELECT COUNT(DISTINCT substr(bg, 2, 1)) AS vsize FROM model
            ), logp AS (
              SELECT bg, ln((n12 + 0.5) / (n1 + 0.5 * vsize)) AS lp
              FROM model JOIN tot ON substr(model.bg, 1, 1) = tot.c1
              CROSS JOIN v
            ), doc_bg AS (
              SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY doc_id, bg
            ), scored AS (
              SELECT doc_id, SUM(c) AS n_bigrams,
                     SUM(c * lp) / SUM(c) AS avg_logp
              FROM doc_bg JOIN logp USING (bg) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   ROUND(s.avg_logp, 6) AS avg_logp,
                   ROUND(exp(-s.avg_logp), 6) AS ppl
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: plant deterministic emails/urls/phones into a slice of
    the corpus, then count and redact them — proves the patterns behave
    identically under Java regex (Spark) and RE2 (DuckDB oracle)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" see https://example.com/page/"),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" call 555-0199")).otherwise(
                F.lit("")
            ),
        ),
    )
    t = F.col("text")
    counts = TX.pii_counts(t)
    return planted.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["url"].alias("n_urls"),
        counts["phone"].alias("n_phones"),
        F.md5(TX.redact_pii(t)).alias("redacted_fp"),
    )
q_redact_pii.oracle = r"""
            WITH p AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 7 = 0
                          THEN ' contact user' || CAST(doc_id AS VARCHAR)
                               || '@example.com' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                          THEN ' see https://example.com/page/'
                               || CAST(doc_id AS VARCHAR) ELSE '' END
                     || CASE WHEN doc_id % 13 = 0
                          THEN ' call 555-0199' ELSE '' END AS text
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text,
                     '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
                   len(regexp_extract_all(text,
                     '(?i)https?://[a-z0-9./_-]+')) AS n_urls,
                   len(regexp_extract_all(text,
                     '\b[0-9]{3}-[0-9]{4}\b')) AS n_phones,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                     '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
                     '(?i)https?://[a-z0-9./_-]+', '[URL]', 'g'),
                     '\b[0-9]{3}-[0-9]{4}\b', '[PHONE]', 'g')) AS redacted_fp
            FROM p
        """


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: share of each document's word
    bigrams taken by its most frequent bigram."""
    from vtk_reserves_spark.operators.terms import repetition_signals

    docs = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    return repetition_signals(docs, "doc_id", "text", n=2)
q_repetition_signals.oracle = f"""
            WITH tq AS (
              SELECT doc_id, {toks} AS t FROM documents
            ), grams AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(t)),
                       i -> t[i] || ' ' || t[i+1])) AS gram
              FROM tq WHERE len(t) >= 2
            ), per_gram AS (
              SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
            )
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_grams,
                   MAX(c) AS top_count,
                   CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_frac
            FROM per_gram GROUP BY doc_id
        """


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any word 5-gram
    with a deterministic ~1% benchmark sample (doc_id % 97 == 0) —
    broadcast the benchmark gram set, count distinct hits per doc."""
    from vtk_reserves_spark.operators.dedup import decontaminate_ngrams

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return decontaminate_ngrams(docs, bench, "doc_id", "text", ngrams=5)
q_decontaminate.oracle = f"""
            WITH tq AS (
              SELECT doc_id, {toks} AS t FROM documents
            ), cg AS (
              SELECT doc_id,
                     unnest(list_transform({_shingle_sql('t', 5)},
                       w -> ('0x' || substr(md5(w), 1, 8))::BIGINT)) AS gram
              FROM tq
            ), bg AS (
              SELECT DISTINCT gram FROM cg WHERE doc_id % 97 = 0
            )
            SELECT doc_id, COUNT(DISTINCT gram) AS n_hits
            FROM cg JOIN bg USING (gram)
            GROUP BY doc_id
        """


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-memory Bloom decontamination (dedup.bloom_decontaminate):
    the benchmark's 5-gram Bloom bitset (8192 bits, 2 salted md5
    hashes) is a 1 KB array literal in the plan, and the corpus scan is
    completely shuffle-free.  Deterministic false positives are part of
    the contract — the oracle replays membership through the identical
    position sets."""
    from vtk_reserves_spark.operators.dedup import (
        bloom_decontaminate,
        build_bloom_bits,
    )

    docs = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    bits = build_bloom_bits(bench, "text", ngrams=5, m_bits=8192, k_hashes=2)
    return bloom_decontaminate(docs, bits, "doc_id", "text", ngrams=5, k_hashes=2)
q_bloom_decontaminate.oracle = f"""
            -- Bloom membership == "every salted position is in the
            -- benchmark position set" (bit test <=> position-set IN,
            -- by construction), so the oracle needs no bitset at all;
            -- false positives reproduce because the md5 positions do
            WITH tq AS (
              SELECT doc_id, {{toks}} AS t FROM documents
            ), cg AS (
              SELECT doc_id, unnest({_shingle_sql('t', 5)}) AS g FROM tq
            ), bp AS (
              SELECT DISTINCT
                     ('0x' || substr(md5(g || '_bf' || j), 1, 8))::BIGINT % 8192 AS pos
              FROM (SELECT DISTINCT g FROM cg WHERE doc_id % 97 = 0),
                   (SELECT unnest([0, 1]) AS j)
            )
            SELECT doc_id, CAST(COUNT(*) AS INT) AS n_hits
            FROM cg
            WHERE ('0x' || substr(md5(g || '_bf0'), 1, 8))::BIGINT % 8192
                    IN (SELECT pos FROM bp)
              AND ('0x' || substr(md5(g || '_bf1'), 1, 8))::BIGINT % 8192
                    IN (SELECT pos FROM bp)
            GROUP BY doc_id
        """.replace("{toks}", _TOKS_SQL.format(c="text"))


raw_toks = _RAW_TOKS_SQL.format(c="text")
lower_toks = _RAW_TOKS_SQL.format(c="lower(text)")


sw = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in TX.STOPWORDS.items()
}
hits = {
    lang: f"len(list_filter({lower_toks}, w -> list_contains({lst}, w)))"
    for lang, lst in sw.items()
}
lang_case = (
    "CASE WHEN text IS NULL THEN NULL "
    + " ".join(
        f"WHEN {hits[lang]} > 0 AND "
        + " AND ".join(
            f"{hits[lang]} >= {hits[o]}" for o in ("en", "es", "de", "fr") if o != lang
        )
        + f" THEN '{lang}'"
        for lang in ("en", "es", "de", "fr")
    )
    + " ELSE 'und' END"
)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_read(spark, sf_dir, "documents"), "doc_id")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        TX.bpe_ish_count(t).alias("n_bpe"),
        TX.fingerprint(t).alias("fp"),
        TX.lang_id(t).alias("lang_pred"),
    )
q_text_stats.oracle = f"""
            SELECT doc_id,
                   len({raw_toks}) AS n_tokens,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_bpe,
                   md5(trim(regexp_replace(
                        regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                        '\\s+', ' ', 'g'))) AS fp,
                   {lang_case} AS lang_pred
            FROM documents
        """


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_read(spark, sf_dir, "documents"), "doc_id")
    return docs.select("doc_id", TX.quality_score(F.col("text")).alias("q"))
q_quality_score.oracle = f"""
            WITH s AS (
              SELECT doc_id,
                     length(text) AS n,
                     len({raw_toks}) AS n_tokens,
                     len(list_filter({lower_toks},
                         w -> list_contains({sw['en']}, w))) AS sw_hits,
                     CASE WHEN len({raw_toks}) > 0 THEN
                       CAST(list_aggregate(list_transform({raw_toks},
                            w -> length(w)), 'sum') AS DOUBLE) / len({raw_toks})
                     ELSE 0.0 END AS mwl,
                     length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) AS np
              FROM documents
            )
            SELECT doc_id,
                   LEAST(GREATEST(
                     0.4 * LEAST(n / 200.0, 1.0)
                     + 0.3 * LEAST(sw_hits / GREATEST(n_tokens, 1) * 5.0, 1.0)
                     + 0.3 * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0
                              THEN 1.0 ELSE 0.5 END)
                     - 0.2 * LEAST((CASE WHEN n > 0 THEN np / n
                                    ELSE 0.0 END) * 5.0, 1.0),
                   0.0), 1.0) AS q
            FROM s
        """


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(_read(spark, sf_dir, "embeddings"), "vec_id")
    queries = emb.where(F.col("vec_id") < 5)
    return cosine_topk(emb, queries, k=3).select("query_id", "neighbor_id", "rank")
q_similarity_topk.oracle = """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qv, e.embedding) AS sim
              FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.qid
            ), ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
        """


def _bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """DuckDB twin of functions/vectors.lsh_bucket, including its NULL
    contract: a NULL/empty vector gets a NULL bucket (drops out of the
    bucket join) instead of landing in bucket 0.  DuckDB's
    list_dot_product RAISES on a length mismatch where Spark's zip_with
    yields NULL — fixtures carry no ragged vectors, so the guard only
    needs to cover the NULL/empty cases both engines agree on."""
    terms = []
    dim = len(planes[0]) if planes else 0
    for b, hp in enumerate(planes):
        lit = "[" + ", ".join(f"{w!r}" for w in hp) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {lit}) > 0 "
            f"THEN {1 << b} ELSE 0 END)"
        )
    body = "(" + " + ".join(terms) + ")"
    return (
        f"(CASE WHEN {vec_expr} IS NULL OR len({vec_expr}) != {dim} "
        f"THEN NULL ELSE {body} END)"
    )


planes_t = [deterministic_hyperplanes(4, 64, f"lsh{t}") for t in range(2)]
b0 = _bucket_sql("embedding", planes_t[0])
b1 = _bucket_sql("embedding", planes_t[1])


def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return lsh_topk(emb, queries, k=3, n_bits=4, n_tables=2).select(
        "query_id", "neighbor_id", "rank"
    )
q_similarity_lsh.oracle = f"""
            WITH b AS (
              SELECT vec_id, embedding, {b0} AS t0, {b1} AS t1 FROM embeddings
            ), q AS (SELECT * FROM b WHERE vec_id < 5),
            cand AS (
              SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
              FROM q JOIN b c
                ON (q.t0 = c.t0 OR q.t1 = c.t1) AND q.vec_id != c.vec_id
            ), scored AS (
              SELECT cand.query_id, cand.neighbor_id,
                     list_cosine_similarity(qe.embedding, ce.embedding) AS sim
              FROM cand
              JOIN embeddings qe ON qe.vec_id = cand.query_id
              JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
            ), ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
        """


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vtk_reserves_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return ivf_topk(emb, queries, k=3, n_centroids=16, n_probe=4).select(
        "query_id", "neighbor_id", "rank"
    )
q_similarity_ivf.oracle = """
            WITH cent AS (
              SELECT vec_id AS cid, embedding AS cvec
              FROM embeddings WHERE vec_id < 16
            ), corpus_assign AS (
              SELECT vec_id AS neighbor_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.embedding, c.cvec)
                           DESC, c.cid ASC) AS rn
                FROM embeddings e CROSS JOIN cent c
              ) WHERE rn = 1
            ), qprobe AS (
              SELECT vec_id AS query_id, cid FROM (
                SELECT q.vec_id, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                         ORDER BY list_cosine_similarity(q.embedding, c.cvec)
                           DESC, c.cid ASC) AS rn
                FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 5
              ) WHERE rn <= 4
            ), cand AS (
              SELECT DISTINCT qp.query_id, ca.neighbor_id
              FROM qprobe qp JOIN corpus_assign ca ON ca.cid = qp.cid
              WHERE ca.neighbor_id != qp.query_id
            ), scored AS (
              SELECT cand.query_id, cand.neighbor_id,
                     list_cosine_similarity(qe.embedding, ce.embedding) AS sim
              FROM cand
              JOIN embeddings qe ON qe.vec_id = cand.query_id
              JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
            ), ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3
        """


nd_planes = deterministic_hyperplanes(4, 64, "lsh")
nd_bucket = _bucket_sql("vec", nd_planes)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twin = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x + F.lit(0.001)).alias("embedding"),
    )
    both = emb.unionByName(twin)
    return embedding_near_dup_pairs(both, threshold=0.999).select("id_a", "id_b")
q_embedding_near_dup.oracle = f"""
            WITH uni AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings
              UNION ALL
              SELECT vec_id + 100000 AS id,
                     list_transform(embedding, x -> x + 0.001) AS vec
              FROM embeddings
            ), k AS (
              SELECT id, vec, {nd_bucket} AS bucket FROM uni
            )
            SELECT a.id AS id_a, b.id AS id_b
            FROM k a JOIN k b ON a.bucket = b.bucket AND a.id < b.id
            WHERE list_cosine_similarity(a.vec, b.vec) >= 0.999
        """


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (operators/similarity.py
    semantic_dedup; Abbas et al. 2023): plant near-dup twins
    (x + 0.001, cosine ~1 vs a 0.51 natural ceiling at threshold
    0.9), assign everything to fixed seed centroids (vec_id < 8 —
    closed-form in SQL like q:kmeans), then drop any vector whose
    cluster holds a lower-id vector with cosine >= 0.9.  One
    broadcast assignment + one cluster-keyed shuffle; per-cluster
    scoring is a single numpy GEMM."""
    from vtk_reserves_spark.operators.similarity import semantic_dedup

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twin = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x + F.lit(0.001)
        ).alias("embedding"),
    )
    both = emb.unionByName(twin)
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.transform(
            F.col("embedding"), lambda x: x.cast("double")
        ).alias("centroid"),
    )
    return semantic_dedup(both, cents, threshold=0.9)
q_semantic_dedup.oracle = """
            -- fixed seed centroids make the assignment closed-form
            -- (the q:kmeans device); dedup rule: dropped iff a
            -- lower-id same-cluster vector has cosine >= 0.9
            WITH uni AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS vec
              FROM embeddings
              UNION ALL
              SELECT vec_id + 100000 AS id,
                     list_transform(embedding, x -> x + 0.001) AS vec
              FROM embeddings
            ), c AS (
              SELECT CAST(vec_id AS INT) AS centroid_id,
                     embedding::DOUBLE[] AS centroid
              FROM embeddings WHERE vec_id < 8
            ), asg AS (
              SELECT id, centroid_id FROM (
                SELECT u.id, c.centroid_id,
                       ROW_NUMBER() OVER (
                         PARTITION BY u.id
                         ORDER BY list_distance(u.vec, c.centroid) ASC,
                                  c.centroid_id ASC) AS rn
                FROM uni u CROSS JOIN c
              ) WHERE rn = 1
            ), dup AS (
              SELECT DISTINCT b.id AS id
              FROM asg a
              JOIN asg b ON a.centroid_id = b.centroid_id AND a.id < b.id
              JOIN uni ua ON ua.id = a.id
              JOIN uni ub ON ub.id = b.id
              WHERE list_cosine_similarity(ua.vec, ub.vec) >= 0.9
            )
            SELECT a.id AS vec_id, a.centroid_id,
                   (d.id IS NULL) AS kept
            FROM asg a LEFT JOIN dup d ON d.id = a.id
        """


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal
    (operators/dedup.remove_duplicate_segments): 8-token segments
    appearing verbatim in >= 2 distinct docs are dropped from every doc,
    docs reassembled in order.  One count shuffle + an anti-join whose
    build side is only the hot segments (AQE broadcasts it)."""
    from vtk_reserves_spark.operators.dedup import remove_duplicate_segments

    docs = _read(spark, sf_dir, "documents")
    return remove_duplicate_segments(
        docs, "doc_id", "text", chunk_tokens=8, min_docs=2
    )
q_segment_dedup.oracle = f"""
            -- mirror of remove_duplicate_segments: raw whitespace
            -- tokens, non-overlapping 8-token windows (empty docs get
            -- ONE empty segment), drop windows in >= 2 distinct docs,
            -- reassemble in position order
            WITH toks AS (
              SELECT doc_id, {_RAW_TOKS_SQL.format(c="text")} AS t
              FROM documents
            ), segs AS (
              SELECT doc_id, u.i AS pos,
                     array_to_string(
                       list_slice(t, CAST(u.i * 8 + 1 AS BIGINT),
                                  CAST(u.i * 8 + 8 AS BIGINT)), ' ') AS seg
              FROM toks,
                   LATERAL (SELECT unnest(range(0,
                       GREATEST(CAST(ceil(len(t) / 8.0) AS BIGINT), 1))) AS i) u
            ), hot AS (
              SELECT seg FROM segs
              GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 2
            ), kept AS (
              SELECT s.* FROM segs s ANTI JOIN hot h USING (seg)
            ), tot AS (
              SELECT doc_id, COUNT(*) AS n_total FROM segs GROUP BY doc_id
            ), agg AS (
              SELECT doc_id,
                     array_to_string(list(seg ORDER BY pos), ' ') AS text_clean,
                     COUNT(*) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id,
                   COALESCE(a.text_clean, '') AS text_clean,
                   CAST(COALESCE(a.n_kept, 0) AS INT) AS n_kept,
                   CAST(t.n_total - COALESCE(a.n_kept, 0) AS INT) AS n_dropped
            FROM tot t LEFT JOIN agg a USING (doc_id)
        """


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span detection (operators/dedup.duplicate_spans):
    stride-1 8-token windows shared by >= 2 docs, merged per doc into
    maximal spans — finds repeated material at ANY alignment, the
    span-level upgrade of q:segment_dedup."""
    from vtk_reserves_spark.operators.dedup import duplicate_spans

    docs = _spread(_read(spark, sf_dir, "documents"), "doc_id")
    return duplicate_spans(docs, "doc_id", "text", window=8, min_docs=2)
q_duplicate_spans.oracle = f"""
            -- mirror of duplicate_spans: stride-1 8-token windows,
            -- hot = in >= 2 distinct docs, per-doc gaps-and-islands
            -- merge of overlapping-or-abutting coverage
            WITH toks AS (
              SELECT doc_id, {_RAW_TOKS_SQL.format(c="text")} AS t
              FROM documents
            ), big AS (
              SELECT * FROM toks WHERE len(t) >= 8
            ), wins AS (
              SELECT doc_id, u.i AS pos,
                     array_to_string(
                       list_slice(t, CAST(u.i + 1 AS BIGINT),
                                  CAST(u.i + 8 AS BIGINT)), ' ') AS win
              FROM big,
                   LATERAL (SELECT unnest(range(0, len(t) - 8 + 1)) AS i) u
            ), hot AS (
              SELECT win FROM wins
              GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2
            ), hits AS (
              SELECT w.doc_id, w.pos FROM wins w SEMI JOIN hot h USING (win)
            ), isl AS (
              SELECT doc_id, pos,
                     CASE WHEN pos > LAG(pos) OVER w + 8 THEN 1 ELSE 0 END AS nw
              FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ), g AS (
              SELECT doc_id, pos,
                     SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS island
              FROM isl
            )
            SELECT doc_id,
                   CAST(MIN(pos) AS INT) AS span_start,
                   CAST(MAX(pos) + 7 AS INT) AS span_end,
                   CAST(COUNT(*) AS INT) AS n_windows
            FROM g GROUP BY doc_id, island
        """


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary learning (operators/bpe.learn_bpe): 10 merges from
    the documents word-frequency table (ONE corpus pass, then all
    rounds iterate on the vocabulary — Heaps' law is what makes
    tokenizer training distributable).  Rows-only: an iterative greedy
    fixed point has no SQL oracle; the merge sequence is pinned
    merge-for-merge against a pure-Python reference implementation in
    tests/test_llm_ops.py."""
    from vtk_reserves_spark.operators.bpe import learn_bpe, word_counts

    docs = _read(spark, sf_dir, "documents")
    merges = learn_bpe(word_counts(docs), num_merges=10)
    return spark.createDataFrame(
        [(i, l, r, f) for i, (l, r, f) in enumerate(merges)],
        "step int, left string, right string, freq long",
    )


def q_bpe_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE learning on a DEGENERATE fixture that admits a SQL oracle:
    every corpus word is exactly two characters, so each word
    contributes exactly one adjacent pair and a merge retires exactly
    the words equal to that pair without creating new pairs — the
    greedy fixed point collapses to "top-k bigrams by (count DESC,
    pair ASC)", which DuckDB replays as a window rank.  The query
    still runs the REAL distributed rounds (driver_threshold=0 forces
    the vocabulary-table path: pair explode -> groupBy -> top-1 ->
    Arrow merge UDF -> checkpoint per round), so the hash row covers
    the production code path; only the fixture is degenerate.  The
    general iterative case stays rows-only (q_bpe_merges)."""
    from vtk_reserves_spark.operators.bpe import learn_bpe, word_counts

    letters = F.array(*[F.lit(c) for c in "abcdefg"])
    idx = F.floor(F.sqrt(F.col("id"))).cast("int")
    docs = spark.range(400).select(
        F.concat(
            F.element_at(letters, idx % 5 + 1),
            F.element_at(letters, (idx * 3) % 7 + 1),
        ).alias("text")
    )
    merges = learn_bpe(
        word_counts(docs), num_merges=6, min_freq=2, driver_threshold=0
    )
    return spark.createDataFrame(
        [(i, l, r, f) for i, (l, r, f) in enumerate(merges)],
        "step int, left string, right string, freq long",
    )
q_bpe_degenerate.oracle = """
            -- all corpus words are 2 chars, so the greedy BPE fixed
            -- point collapses to top-k bigrams by (count DESC, pair ASC)
            WITH w AS (
              SELECT CAST(FLOOR(SQRT(r.range)) AS INT) AS idx
              FROM range(400) r
            ), pairs AS (
              SELECT substring('abcdefg', idx % 5 + 1, 1) AS l,
                     substring('abcdefg', (idx * 3) % 7 + 1, 1) AS r,
                     COUNT(*) AS freq
              FROM w GROUP BY 1, 2
            ), ranked AS (
              SELECT l, r, freq,
                     ROW_NUMBER() OVER (ORDER BY freq DESC, l ASC, r ASC) AS rn
              FROM pairs WHERE freq >= 2
            )
            SELECT CAST(rn - 1 AS INT) AS step,
                   l AS "left", r AS "right",
                   CAST(freq AS BIGINT) AS freq
            FROM ranked WHERE rn <= 6
        """


def q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training
    (operators/unigram.py — SURVEY r6 banked item 6): substring-seed
    the piece vocabulary over the distributed word table, run two
    hard-EM (Viterbi) rounds — broadcast log-probs, Arrow-batched
    lattice DP per word, one groupBy(piece) per round — and prune to
    150 pieces with char fallback.  Iterative fixed point => rows-
    only; the learner is pinned to a pure-Python reference by
    tests/test_unigram.py and q:unigram_degenerate hash-matches the
    char-level closed form."""
    from vtk_reserves_spark.operators.bpe import word_counts
    from vtk_reserves_spark.operators.unigram import learn_unigram

    docs = _read(spark, sf_dir, "documents").select("text")
    return learn_unigram(
        word_counts(docs), vocab_size=150, em_iters=2,
        max_piece_len=6, seed_size=500,
    )


def q_unigram_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram training on the DEGENERATE fixture that admits a SQL
    oracle (the bpe_degenerate pattern): max_piece_len=1 collapses
    the lattice to single characters, so the learned vocabulary is
    exactly the char-frequency table of the tokenized corpus — which
    DuckDB replays by exploding lower(text) into characters and
    dropping whitespace (tokens() only ever removes whitespace).
    The query still runs the REAL code path (seed explode ->
    broadcast logp -> Viterbi UDF -> groupBy round); only the
    fixture is degenerate."""
    from vtk_reserves_spark.operators.bpe import word_counts
    from vtk_reserves_spark.operators.unigram import learn_unigram

    docs = _read(spark, sf_dir, "documents").select("text")
    out = learn_unigram(
        word_counts(docs), vocab_size=100, em_iters=1,
        max_piece_len=1,
    )
    return out.withColumn("prob", F.round("prob", 6))
q_unigram_degenerate.oracle = """
            -- char-level closed form of q_unigram_degenerate:
            -- max_piece_len=1 makes the learned vocabulary the char
            -- frequencies of the whitespace-tokenized lowercased
            -- corpus
            WITH ch AS (
              SELECT substr(lower(text), i, 1) AS piece
              FROM documents,
                   LATERAL (SELECT unnest(generate_series(
                     1, length(text))) AS i)
            ),
            nz AS (
              SELECT piece FROM ch
              WHERE piece NOT IN (' ', chr(9), chr(10), chr(13))
            )
            SELECT piece, COUNT(*) AS count,
                   ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6)
                     AS prob
            FROM nz GROUP BY piece
        """


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch readability over the real documents text
    (functions/text.readability — pure Catalyst): sentence /
    whitespace-word / vowel-group-syllable counts with the
    206.835 - 1.015(w/s) - 84.6(sy/w) score.  The oracle recomputes
    the identical deterministic definitions in SQL over the same
    column — a genuine dual implementation, not a fixture replay."""
    from vtk_reserves_spark.functions.text import readability

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    r = readability(F.col("text"))
    return docs.select(
        "doc_id",
        r["n_sentences"].alias("n_sentences"),
        r["n_words"].alias("n_words"),
        r["n_syllables"].alias("n_syllables"),
        F.round(r["flesch"], 6).alias("flesch"),
    )
q_readability.oracle = r"""
            -- dual implementation of functions/text.readability:
            -- sentences = runs of [.!?] (floor 1), words =
            -- whitespace tokens (floor 1), syllables = vowel-group
            -- runs over lowercased text; Flesch formula verbatim
            WITH s AS (
              SELECT doc_id,
                     greatest(len(regexp_extract_all(text, '[.!?]+')),
                              1) AS n_sentences,
                     greatest(len(list_filter(
                        string_split_regex(trim(text), '\s+'),
                        w -> w != '')), 1) AS n_words,
                     len(regexp_extract_all(lower(text), '[aeiouy]+'))
                       AS n_syllables
              FROM documents
            )
            SELECT doc_id,
                   n_sentences::INT AS n_sentences,
                   n_words::INT AS n_words,
                   n_syllables::INT AS n_syllables,
                   round(206.835
                         - 1.015 * (CAST(n_words AS DOUBLE)
                                    / CAST(n_sentences AS DOUBLE))
                         - 84.6 * (CAST(n_syllables AS DOUBLE)
                                   / CAST(n_words AS DOUBLE)), 6)
                     AS flesch
            FROM s
        """


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.hard_negatives):
    labels are vec_id%7 on the real embeddings table; for each of
    the first 5 vectors, the top-3 most-cosine-similar vectors of a
    DIFFERENT label with a 0.999 near-dup ceiling — the contrastive
    batch-construction primitive.  Queries broadcast, corpus
    streamed once, window top-k; the oracle replays the same
    ranking with DuckDB's list_cosine_similarity."""
    from vtk_reserves_spark.operators.similarity import hard_negatives

    emb = _spread(_read(spark, sf_dir, "embeddings"), "vec_id").withColumn(
        "label", (F.col("vec_id") % 7).cast("int")
    )
    queries = emb.where(F.col("vec_id") < 5)
    return hard_negatives(
        emb, queries, k=3, max_sim=0.999
    ).select("query_id", "neighbor_id", "rank")
q_hard_negatives.oracle = """
            -- dual implementation of hard-negative mining: same
            -- cosine ranking as similarity_topk but restricted to
            -- label (vec_id%7) mismatches with a 0.999 ceiling
            WITH q AS (SELECT vec_id AS qid, embedding AS qv,
                              vec_id % 7 AS qlabel
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qv, e.embedding) AS sim
              FROM q CROSS JOIN embeddings e
              WHERE e.vec_id != q.qid AND e.vec_id % 7 != q.qlabel
            ), ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
              FROM scored WHERE sim <= 0.999
            )
            SELECT query_id, neighbor_id, rank FROM ranked
            WHERE rank <= 3
        """


def q_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext candidate mining (operators/bitext.py — pure
    Catalyst): docs form translation groups of four (doc_id//4 is
    the page, doc_id%4 the language en/de/fr/ja), published under
    path-style (/en/...) or subdomain-style (en.site...) URLs by
    group parity — both wild conventions.  url_lang_key normalizes
    either form to one {L} key and a single self-equi-join emits
    each cross-language pair once; the oracle replays the group
    arithmetic (6 pairs per complete group)."""
    from vtk_reserves_spark.operators.bitext import bitext_candidates

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    g = (d / 4).cast("long")
    lang = (
        F.when(d % 4 == 0, "en").when(d % 4 == 1, "de")
        .when(d % 4 == 2, "fr").otherwise("ja")
    )
    url = F.when(
        g % 2 == 0,
        F.concat(
            F.lit("https://site"), (g % 10).cast("string"),
            F.lit(".example/"), lang, F.lit("/page/"),
            g.cast("string"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://"), lang, F.lit(".site"),
            (g % 10).cast("string"), F.lit(".example/page/"),
            g.cast("string"),
        ),
    )
    urls = docs.withColumn("url", url)
    return bitext_candidates(urls)
q_bitext_pairs.oracle = """
            -- closed form of the bitext fixture rule
            -- (q_bitext_pairs): groups of 4 consecutive docs are
            -- translations; 6 unordered pairs per complete group;
            -- key style flips by group parity
            WITH t AS (
              SELECT doc_id,
                     doc_id // 4 AS g,
                     CASE CAST(doc_id % 4 AS INT)
                       WHEN 0 THEN 'en' WHEN 1 THEN 'de'
                       WHEN 2 THEN 'fr' ELSE 'ja' END AS lang
              FROM documents
            )
            SELECT CASE WHEN a.g % 2 = 0
                        THEN 'https://site' || CAST(a.g % 10 AS VARCHAR)
                             || '.example/{L}/page/'
                             || CAST(a.g AS VARCHAR)
                        ELSE 'https://{L}.site'
                             || CAST(a.g % 10 AS VARCHAR)
                             || '.example/page/' || CAST(a.g AS VARCHAR)
                   END AS key,
                   a.lang AS lang_a, a.doc_id AS id_a,
                   b.lang AS lang_b, b.doc_id AS id_b
            FROM t a JOIN t b ON a.g = b.g AND a.lang < b.lang
        """


def _pq_closed_form_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PQ fixture on the embeddings ids: 8 dims of
    ``(vec_id + dim) % 4`` — exactly 4 distinct values per 1-dim
    subspace, so Lloyd's with k=4 converges to the value set and the
    quantizer reconstructs EXACTLY (the krige_closed pattern: a
    closed-form regime that still runs the full pipeline)."""
    return _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: ((F.col("vec_id") + j) % 4).cast("double"),
        ).alias("embedding"),
    )


def q_pq_topk_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end-to-end
    (similarity.pq_train/pq_encode/pq_topk — Jegou et al. 2011):
    train m=8 one-dim codebooks with k=4 on the closed-form corpus,
    encode every vector to 8 codes, and answer two queries by
    asymmetric distance (broadcast LUT + one mapInPandas corpus pass
    with a per-partition (d2, id)-lexicographic cut, so the shuffle
    is partitions x queries x k rows, never n x queries).  Because
    k covers the distinct subvector values, ADC == exact L2 and the
    oracle replays the whole thing in SQL."""
    from vtk_reserves_spark.operators.similarity import (
        pq_encode, pq_topk, pq_train,
    )

    corpus = _pq_closed_form_corpus(spark, sf_dir)
    # one Lloyd step suffices: the init (subvectors of ids 0..3)
    # already covers the 4 distinct values, so the first mean IS the
    # fixed point — iteration 2 would recompute identical centroids
    cb = pq_train(corpus, m=8, k=4, n_iter=1)
    codes = pq_encode(corpus, cb, m=8)
    queries = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [3.0] * 8), (2, [0.5] * 8)],
        "query_id bigint, embedding array<double>",
    )
    return pq_topk(codes, cb, queries, k=5).select(
        "query_id", "vec_id", "d2", F.col("rank").cast("int").alias("rank")
    )
q_pq_topk_degenerate.oracle = """
            -- closed form of the PQ fixture (q_pq_topk_degenerate):
            -- with one code per distinct subvector value, ADC == the
            -- exact squared L2 over the synthesized vectors
            WITH v AS (
              SELECT vec_id, j, CAST((vec_id + j) % 4 AS DOUBLE) AS x
              FROM (SELECT DISTINCT vec_id FROM embeddings),
                   (SELECT unnest(generate_series(0, 7)) AS j)
            ), q AS (
              SELECT 0 AS query_id, 0.0 AS qv
              UNION ALL SELECT 1, 3.0
              UNION ALL SELECT 2, 0.5
            ), d AS (
              SELECT q.query_id, v.vec_id,
                     SUM((v.x - q.qv) * (v.x - q.qv)) AS d2
              FROM v, q GROUP BY 1, 2
            ), r AS (
              SELECT query_id, vec_id, d2,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY d2, vec_id
                     ) AS INT) AS rank
              FROM d
            )
            SELECT query_id, vec_id, d2, rank FROM r WHERE rank <= 5
        """


def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization on the REAL embeddings (rows-only: ADC
    ranks are approximate by design, so no SQL oracle — recall floors
    are pinned by pytest test_llm_ops.py): m=4 subspaces, k=16 codes,
    three query vectors taken from the corpus; the quantizer trains,
    encodes 8-32x smaller codes, and answers via the broadcast-LUT
    mapInPandas pass.  The scale path next to similarity_ivf."""
    from vtk_reserves_spark.operators.similarity import (
        pq_encode, pq_topk, pq_train,
    )

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    cb = pq_train(emb, m=4, k=16, n_iter=1)
    codes = pq_encode(emb, cb, m=4)
    queries = emb.where(F.col("vec_id").isin(0, 7, 13)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(codes, cb, queries, k=10).select(
        "query_id", "vec_id", F.round("d2", 6).alias("d2"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_sq_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 scalar quantization of the embeddings column
    (similarity.sq_stats/sq_encode/sq_decode — FAISS SQ8 / the int8
    dumps vector stores ingest): ONE calibration pass collects
    per-dimension (min, max) (d tiny rows to the driver), encode and
    decode are pure Catalyst zip_with against broadcast literal
    arrays — 4x smaller vectors, fully deterministic, so code AND
    reconstruction hash-match the closed-form SQL."""
    from vtk_reserves_spark.operators.similarity import (
        sq_decode, sq_encode, sq_stats,
    )

    emb = _read(spark, sf_dir, "embeddings")
    stats = sq_stats(emb)
    enc = sq_encode(emb, stats)
    dec = sq_decode(enc, stats, out_col="recon")
    return dec.select(
        "vec_id",
        F.posexplode(F.arrays_zip("codes", "recon")).alias("dim", "z"),
    ).select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        F.col("z.codes").alias("code"),
        F.col("z.recon").alias("recon"),
    )
q_sq_roundtrip.oracle = """
            -- closed form of int8 scalar quantization: per-dim
            -- min/max calibration, round((x-mn)*255/(mx-mn)) clamp,
            -- reconstruction code*(mx-mn)/255+mn (6-dp rounded by
            -- the harness on both sides)
            WITH v AS (
              SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                     CAST(embedding[i] AS DOUBLE) AS x
              FROM embeddings,
                   LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                            AS i)
            ), s AS (
              SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM v GROUP BY dim
            )
            SELECT v.vec_id, v.dim,
                   CAST(GREATEST(0, LEAST(255,
                     ROUND((v.x - s.mn) *
                       (CASE WHEN s.mx > s.mn
                             THEN 255.0 / (s.mx - s.mn)
                             ELSE 0.0 END), 0))) AS INT) AS code,
                   CAST(GREATEST(0, LEAST(255,
                     ROUND((v.x - s.mn) *
                       (CASE WHEN s.mx > s.mn
                             THEN 255.0 / (s.mx - s.mn)
                             ELSE 0.0 END), 0))) AS INT)
                     * ((s.mx - s.mn) / 255.0) + s.mn AS recon
            FROM v JOIN s USING (dim)
        """


def q_ivfpq_degenerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-style IVFADC end-to-end (similarity.ivfpq_topk): coarse
    k-means list assignment, product quantization of the RESIDUALS,
    and probed asymmetric-distance search — the billion-vector index
    layout, composed from kmeans_fit/kmeans_assign + pq_train/
    pq_encode.  In the closed-form regime (one coarse centroid whose
    mean is exactly 1.5 per dim because the corpus size is a
    multiple of 4; residuals take 4 exact values covered by pq_k=4)
    the whole pipeline equals brute-force L2, so the SAME exact-L2
    oracle as q:pq_topk_degenerate hash-checks the residual path,
    the probe selection and the per-list ADC in one query."""
    from vtk_reserves_spark.operators.similarity import ivfpq_topk

    corpus = _pq_closed_form_corpus(spark, sf_dir)
    queries = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [3.0] * 8), (2, [0.5] * 8)],
        "query_id bigint, embedding array<double>",
    )
    return ivfpq_topk(
        corpus, queries, k=5, n_centroids=1, n_probe=1, m=8,
        pq_k=4, n_iter=1,
    ).select(
        "query_id", "vec_id", "d2",
        F.col("rank").cast("int").alias("rank"),
    )
q_ivfpq_degenerate.oracle = """
            -- closed form of the IVFADC fixture (q_ivfpq_degenerate):
            -- one exact coarse centroid + exact residual PQ ==
            -- with one code per distinct subvector value, ADC == the
            -- exact squared L2 over the synthesized vectors
            WITH v AS (
              SELECT vec_id, j, CAST((vec_id + j) % 4 AS DOUBLE) AS x
              FROM (SELECT DISTINCT vec_id FROM embeddings),
                   (SELECT unnest(generate_series(0, 7)) AS j)
            ), q AS (
              SELECT 0 AS query_id, 0.0 AS qv
              UNION ALL SELECT 1, 3.0
              UNION ALL SELECT 2, 0.5
            ), d AS (
              SELECT q.query_id, v.vec_id,
                     SUM((v.x - q.qv) * (v.x - q.qv)) AS d2
              FROM v, q GROUP BY 1, 2
            ), r AS (
              SELECT query_id, vec_id, d2,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY d2, vec_id
                     ) AS INT) AS rank
              FROM d
            )
            SELECT query_id, vec_id, d2, rank FROM r WHERE rank <= 5
        """


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/dsir.py; Xie et al.
    2023, arXiv:2302.03169): select the 100 raw documents whose
    hashed unigram+bigram distribution best matches the English
    slice — smoothed bag-of-n-grams log-likelihood ratio weights +
    deterministic (md5-seeded) Gumbel top-k, i.e. sampling without
    replacement proportional to the importance weight.  Everything
    is one explode + hash agg for features, two B-sized model
    vectors driver-side, one broadcast join for weights, and a
    TakeOrderedAndProject cut — the oracle replays the entire
    pipeline in SQL."""
    from vtk_reserves_spark.operators.dsir import dsir_resample

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    target = docs.filter(F.col("lang") == "en")
    # the target is a row-subset of the raw corpus, so the target
    # model reuses the materialized raw features (one corpus pass
    # instead of two; integer bucket sums make it bit-identical)
    out = dsir_resample(
        docs, target, k=100, n_buckets=256, target_within_raw=True
    )
    return out.select(
        "rank", "doc_id",
        F.round("log_w", 6).alias("log_w"),
        F.round("key", 6).alias("key"),
    )
q_dsir_resample.oracle = f"""
            -- DSIR replayed in SQL: hashed unigram+bigram features,
            -- smoothed target(en)/raw bag-of-n-grams LLR weights,
            -- md5-seeded Gumbel top-100
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL.format(c='text')} AS t
              FROM documents
            ),
            grams AS (
              SELECT doc_id, unnest(list_concat(t,
                list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i+1]))) AS g
              FROM toks
            ),
            feats AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5('dsir_' || g), 1, 8))::BIGINT
                          % 256 AS INT) AS bucket,
                     COUNT(*) AS cnt
              FROM grams GROUP BY 1, 2
            ),
            tgt AS (
              SELECT f.bucket, SUM(f.cnt) AS c FROM feats f
              JOIN documents d ON d.doc_id = f.doc_id AND d.lang = 'en'
              GROUP BY 1
            ),
            allb AS (SELECT unnest(range(0, 256)) AS bucket),
            p AS (
              SELECT a.bucket,
                     ln((COALESCE(t.c, 0) + 1.0)
                        / ((SELECT SUM(c) FROM tgt) + 256.0)) AS lp
              FROM allb a LEFT JOIN tgt t USING (bucket)
            ),
            rawm AS (SELECT bucket, SUM(cnt) AS c FROM feats GROUP BY 1),
            q AS (
              SELECT a.bucket,
                     ln((COALESCE(r.c, 0) + 1.0)
                        / ((SELECT SUM(c) FROM rawm) + 256.0)) AS lq
              FROM allb a LEFT JOIN rawm r USING (bucket)
            ),
            wts AS (
              SELECT d.doc_id,
                     COALESCE(SUM(f.cnt * (p.lp - q.lq)), 0.0) AS log_w
              FROM documents d
              LEFT JOIN feats f ON f.doc_id = d.doc_id
              LEFT JOIN p ON p.bucket = f.bucket
              LEFT JOIN q ON q.bucket = f.bucket
              GROUP BY 1
            ),
            keyed AS (
              SELECT doc_id, log_w,
                     log_w + (-ln(-ln(
                       ((('0x' || substr(md5('gdsir_' ||
                           CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         % 1000000) + 0.5) / 1000000.0
                     ))) AS key
              FROM wts
            )
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY key DESC, doc_id)
                        AS INT) AS rank,
                   doc_id, ROUND(log_w, 6) AS log_w,
                   ROUND(key, 6) AS key
            FROM keyed
            ORDER BY key DESC, doc_id LIMIT 100
        """


def q_dsir_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNKED-target DSIR (operators/dsir.dsir_resample_domains —
    per-domain target models + per-domain quotas, the target-mixture
    practice of Xie et al. 2023 composed with quota sampling): each
    language gets its OWN smoothed bag-of-n-grams target (the
    doc_id%5==0 'curated' slice of that language) and raw model, a
    document's weight is the LLR against ITS language's models, and
    the cut takes a per-language quota (en 40 / de 15 / zh 20) by
    deterministic Gumbel rank WITHIN the language.  Features compute
    once; per-domain model vectors are driver-side metadata; the cut
    is one domain-keyed window — the oracle replays the entire
    per-domain pipeline in SQL."""
    from vtk_reserves_spark.operators.dsir import dsir_resample_domains

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    target = docs.filter(F.col("doc_id") % 5 == 0)
    # target rows are a subset of raw rows: reuse raw features for
    # the per-domain target models (one corpus pass instead of two)
    out = dsir_resample_domains(
        docs, target, quotas={"en": 40, "de": 15, "zh": 20},
        domain_col="lang", n_buckets=256, target_within_raw=True,
    )
    return out.select(
        "lang", "rank", "doc_id",
        F.round("log_w", 6).alias("log_w"),
        F.round("key", 6).alias("key"),
    )
q_dsir_domains.oracle = f"""
            -- chunked-target DSIR replayed per domain: per-language
            -- target (doc_id%5==0 slice) and raw models, LLR weights
            -- against the document's OWN language models, Gumbel
            -- quota cut within the language (en 40 / de 15 / zh 20)
            WITH toks AS (
              SELECT doc_id, lang, {_TOKS_SQL.format(c='text')} AS t
              FROM documents WHERE lang IN ('en', 'de', 'zh')
            ),
            grams AS (
              SELECT doc_id, lang, unnest(list_concat(t,
                list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i+1]))) AS g
              FROM toks
            ),
            feats AS (
              SELECT doc_id, lang,
                     CAST(('0x' || substr(md5('dsir_' || g), 1, 8))::BIGINT
                          % 256 AS INT) AS bucket,
                     COUNT(*) AS cnt
              FROM grams GROUP BY 1, 2, 3
            ),
            tgtc AS (
              SELECT lang, bucket, SUM(cnt) AS c FROM feats
              WHERE doc_id % 5 = 0 GROUP BY 1, 2
            ),
            rawc AS (
              SELECT lang, bucket, SUM(cnt) AS c FROM feats
              GROUP BY 1, 2
            ),
            allb AS (
              SELECT d.lang, b.bucket
              FROM (SELECT unnest(['en', 'de', 'zh']) AS lang) d
              CROSS JOIN (SELECT unnest(range(0, 256)) AS bucket) b
            ),
            p AS (
              SELECT a.lang, a.bucket,
                     ln((COALESCE(t.c, 0) + 1.0)
                        / (tt.total + 256.0)) AS lp
              FROM allb a
              LEFT JOIN tgtc t
                ON t.lang = a.lang AND t.bucket = a.bucket
              JOIN (SELECT lang, SUM(c) AS total FROM tgtc
                    GROUP BY 1) tt ON tt.lang = a.lang
            ),
            q AS (
              SELECT a.lang, a.bucket,
                     ln((COALESCE(r.c, 0) + 1.0)
                        / (rt.total + 256.0)) AS lq
              FROM allb a
              LEFT JOIN rawc r
                ON r.lang = a.lang AND r.bucket = a.bucket
              JOIN (SELECT lang, SUM(c) AS total FROM rawc
                    GROUP BY 1) rt ON rt.lang = a.lang
            ),
            wts AS (
              SELECT d.doc_id, d.lang,
                     COALESCE(SUM(f.cnt * (p.lp - q.lq)), 0.0)
                       AS log_w
              FROM documents d
              LEFT JOIN feats f ON f.doc_id = d.doc_id
              LEFT JOIN p ON p.lang = f.lang AND p.bucket = f.bucket
              LEFT JOIN q ON q.lang = f.lang AND q.bucket = f.bucket
              WHERE d.lang IN ('en', 'de', 'zh')
              GROUP BY 1, 2
            ),
            keyed AS (
              SELECT doc_id, lang, log_w,
                     log_w + (-ln(-ln(
                       ((('0x' || substr(md5('gdsir_' ||
                           CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         % 1000000) + 0.5) / 1000000.0
                     ))) AS key
              FROM wts
            ),
            ranked AS (
              SELECT lang,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY key DESC, doc_id) AS INT) AS rank,
                     doc_id, log_w, key
              FROM keyed
            )
            SELECT lang, rank, doc_id,
                   ROUND(log_w, 6) AS log_w, ROUND(key, 6) AS key
            FROM ranked
            WHERE (lang = 'en' AND rank <= 40)
               OR (lang = 'de' AND rank <= 15)
               OR (lang = 'zh' AND rank <= 20)
        """


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (operators/retrieval.py): five fixed queries
    score the whole corpus through the Lucene-form Okapi function —
    one postings build (tokenize/explode/aggregate), queries
    BROADCAST onto postings by term, per-pair aggregation, top-5 per
    query ranked on the 6-dp-rounded score with id tie-break (stable
    across engines and summation orders).  The oracle replays the
    identical formula term by term — the contamination-check /
    corpus-audit retrieval shape."""
    import pandas as pd
    from pyspark.sql import types as T

    from vtk_reserves_spark.operators.retrieval import bm25_score, bm25_topk

    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    )
    queries = spark.createDataFrame(
        pd.DataFrame({
            "qid": [0, 1, 2, 3, 4],
            "qtext": [
                "hash join merge", "stream window agg",
                "fast table scan", "query filter sort",
                "spark data vector",
            ],
        }),
        T.StructType([
            T.StructField("qid", T.IntegerType()),
            T.StructField("qtext", T.StringType()),
        ]),
    )
    scored = bm25_score(docs, queries, "doc_id", "text")
    out = bm25_topk(scored, "doc_id", k=5)
    return out.select(
        "qid", "doc_id", F.col("rank").cast("int").alias("rank"),
        F.col("n_terms_hit").cast("int").alias("n_terms_hit"), "score",
    )
q_bm25.oracle = """
            -- dual implementation of Lucene-form BM25 (q_bm25):
            -- same idf, same operation order, rank on the rounded
            -- score with doc_id tie-break
            WITH q(qid, qtext) AS (VALUES
              (0, 'hash join merge'), (1, 'stream window agg'),
              (2, 'fast table scan'), (3, 'query filter sort'),
              (4, 'spark data vector')
            ), tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(
                       COALESCE(text, '')), '[^a-z0-9]+'),
                       w -> w != '') AS t
              FROM documents
            ), lens AS (
              SELECT doc_id, len(t) AS dl FROM tok
            ), tf AS (
              SELECT term, doc_id, dl, COUNT(*) AS tf
              FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term
                    FROM tok)
              GROUP BY term, doc_id, dl
            ), stats AS (
              SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens
            ), dfreq AS (
              SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term
            ), qt AS (
              SELECT qid, unnest(list_distinct(list_filter(
                string_split_regex(lower(qtext), '[^a-z0-9]+'),
                w -> w != ''))) AS term
              FROM q
            ), j AS (
              SELECT qt.qid, tf.doc_id, tf.tf, tf.dl, dfreq.df_t,
                     stats.n_docs, stats.avgdl
              FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
              CROSS JOIN stats
            ), s AS (
              SELECT qid, doc_id, COUNT(*) AS n_terms_hit,
                     SUM(
                       ln(CAST(1.0 AS DOUBLE)
                          + (n_docs - df_t + CAST(0.5 AS DOUBLE))
                            / (df_t + CAST(0.5 AS DOUBLE)))
                       * (tf * CAST(2.2 AS DOUBLE))
                       / (tf + CAST(1.2 AS DOUBLE)
                          * (CAST(0.25 AS DOUBLE)
                             + CAST(0.75 AS DOUBLE) * dl / avgdl))
                     ) AS score
              FROM j GROUP BY qid, doc_id
            )
            SELECT CAST(qid AS INT) AS qid, doc_id,
                   CAST(rank AS INT) AS rank,
                   CAST(n_terms_hit AS INT) AS n_terms_hit, score
            FROM (
              SELECT qid, doc_id, n_terms_hit,
                     ROUND(score, 6) AS score,
                     ROW_NUMBER() OVER (
                       PARTITION BY qid
                       ORDER BY ROUND(score, 6) DESC, doc_id
                     ) AS rank
              FROM s
            ) WHERE rank <= 5
        """


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval with reciprocal-rank fusion
    (operators/retrieval.rrf_fuse; Cormack et al. 2009): the q_bm25
    lexical top-10 fuses with the exact-cosine embedding top-10
    (qids 0-4 are both the five fixed query strings and the first
    five embedding vectors), rrf = sum over lists of 1/(60+rank),
    fused rank on the 6-dp-rounded rrf with id tie-break.  Both
    retrievers and the fusion replay in the oracle term by term."""
    import pandas as pd
    from pyspark.sql import types as T

    from vtk_reserves_spark.operators.retrieval import (
        bm25_score, bm25_topk, rrf_fuse,
    )
    from vtk_reserves_spark.operators.similarity import cosine_topk

    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    )
    queries = spark.createDataFrame(
        pd.DataFrame({
            "qid": [0, 1, 2, 3, 4],
            "qtext": [
                "hash join merge", "stream window agg",
                "fast table scan", "query filter sort",
                "spark data vector",
            ],
        }),
        T.StructType([
            T.StructField("qid", T.IntegerType()),
            T.StructField("qtext", T.StringType()),
        ]),
    )
    sparse = bm25_topk(
        bm25_score(docs, queries, "doc_id", "text"), "doc_id", k=10
    ).select("qid", "doc_id", "rank")
    emb = _read(spark, sf_dir, "embeddings")
    dense = cosine_topk(
        emb, emb.where(F.col("vec_id") < 5), k=10
    ).select(
        F.col("query_id").cast("int").alias("qid"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    return rrf_fuse([sparse, dense], k0=60, k=10)
q_hybrid_retrieval.oracle = """
            -- RRF fusion of the q_bm25 lexical top-10 and the
            -- exact-cosine dense top-10 (q_hybrid_retrieval):
            -- rrf = sum 1/(60+rank); fused rank on ROUND(rrf, 6)
            WITH q(qid, qtext) AS (VALUES
              (0, 'hash join merge'), (1, 'stream window agg'),
              (2, 'fast table scan'), (3, 'query filter sort'),
              (4, 'spark data vector')
            ), tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(
                       COALESCE(text, '')), '[^a-z0-9]+'),
                       w -> w != '') AS t
              FROM documents
            ), lens AS (
              SELECT doc_id, len(t) AS dl FROM tok
            ), tf AS (
              SELECT term, doc_id, dl, COUNT(*) AS tf
              FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term
                    FROM tok)
              GROUP BY term, doc_id, dl
            ), stats AS (
              SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens
            ), dfreq AS (
              SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term
            ), qt AS (
              SELECT qid, unnest(list_distinct(list_filter(
                string_split_regex(lower(qtext), '[^a-z0-9]+'),
                w -> w != ''))) AS term
              FROM q
            ), j AS (
              SELECT qt.qid, tf.doc_id, tf.tf, tf.dl, dfreq.df_t,
                     stats.n_docs, stats.avgdl
              FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
              CROSS JOIN stats
            ), s AS (
              SELECT qid, doc_id,
                     SUM(
                       ln(CAST(1.0 AS DOUBLE)
                          + (n_docs - df_t + CAST(0.5 AS DOUBLE))
                            / (df_t + CAST(0.5 AS DOUBLE)))
                       * (tf * CAST(2.2 AS DOUBLE))
                       / (tf + CAST(1.2 AS DOUBLE)
                          * (CAST(0.25 AS DOUBLE)
                             + CAST(0.75 AS DOUBLE) * dl / avgdl))
                     ) AS score
              FROM j GROUP BY qid, doc_id
            ), sparse10 AS (
              SELECT qid, doc_id, rank FROM (
                SELECT qid, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY ROUND(score, 6) DESC, doc_id ASC)
                       AS rank
                FROM s
              ) WHERE rank <= 10
            ), qv AS (
              SELECT CAST(vec_id AS INT) AS qid, embedding AS v
              FROM embeddings WHERE vec_id < 5
            ), dscored AS (
              SELECT q.qid, e.vec_id AS doc_id,
                     list_cosine_similarity(q.v, e.embedding) AS sim
              FROM qv q CROSS JOIN embeddings e
              WHERE e.vec_id != q.qid
            ), dense10 AS (
              SELECT qid, doc_id, rank FROM (
                SELECT qid, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY sim DESC, doc_id ASC) AS rank
                FROM dscored
              ) WHERE rank <= 10
            ), uni AS (
              SELECT qid, doc_id, 1.0 / (60.0 + rank) AS rr
              FROM sparse10
              UNION ALL
              SELECT qid, doc_id, 1.0 / (60.0 + rank) FROM dense10
            ), fused AS (
              SELECT qid, doc_id, ROUND(SUM(rr), 6) AS rrf,
                     CAST(COUNT(*) AS INT) AS n_lists
              FROM uni GROUP BY qid, doc_id
            )
            SELECT CAST(qid AS INT) AS qid, doc_id, rrf, n_lists,
                   CAST(rank AS INT) AS rank
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY rrf DESC, doc_id ASC) AS rank
              FROM fused
            ) WHERE rank <= 10
        """


def q_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level Kneser-Ney bigram LM (operators/ngram_lm.py): the
    KenLM-style perplexity quality gate, trained on the corpus
    itself and scored on a PERTURBED stream (each doc gets
    " the qqunseenzz" appended) so all four interpolation branches
    execute — seen pair, unseen-pair backoff, unseen-history
    continuation, and the OOV floor (qqunseenzz never occurs in
    training).  Distinct-continuation counts, discounted pair
    probabilities and the CASE ladder are all DataFrame
    aggregations/joins the oracle replays term by term."""
    from vtk_reserves_spark.operators.ngram_lm import kn_perplexity

    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn(
            "score_text",
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" the qqunseenzz"),
            ),
        )
    )
    out = kn_perplexity(docs, "doc_id", "text", score_col="score_text")
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_logp", 6).alias("avg_logp"),
        F.round("ppl", 6).alias("ppl"),
    )
q_kn_perplexity.oracle = """
            -- dual implementation of the interpolated Kneser-Ney
            -- bigram LM (q_kn_perplexity): same discount, same
            -- operation order, same interpolation ladder; scoring
            -- stream appends ' the qqunseenzz'
            WITH tokd AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                       '[^a-z0-9]+'), w -> w != '') AS t
              FROM documents
            ), bi AS (
              SELECT doc_id, t[i] AS v, t[i + 1] AS w
              FROM tokd, LATERAL (SELECT
                unnest(generate_series(1, len(t) - 1)) AS i)
              WHERE len(t) >= 2
            ), c_vw AS (
              SELECT v, w, COUNT(*) AS c_vw FROM bi GROUP BY v, w
            ), c_v AS (
              SELECT v, SUM(c_vw) AS c_v, COUNT(*) AS n1p_v
              FROM c_vw GROUP BY v
            ), cont AS (
              SELECT w, COUNT(*) AS n1p_w FROM c_vw GROUP BY w
            ), k AS (SELECT COUNT(*) AS n1pp FROM c_vw),
            pairs AS (
              SELECT c_vw.v, c_vw.w,
                     GREATEST(c_vw - CAST(0.75 AS DOUBLE), 0)
                       / c_v
                     + CAST(0.75 AS DOUBLE) * n1p_v / c_v
                       * (CAST(n1p_w AS DOUBLE) / n1pp) AS p
              FROM c_vw JOIN c_v USING (v) JOIN cont USING (w)
              CROSS JOIN k
            ), stokd AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(
                       COALESCE(text, '') || ' the qqunseenzz'),
                       '[^a-z0-9]+'), w -> w != '') AS t
              FROM documents
            ), sbi AS (
              SELECT doc_id, t[i] AS v, t[i + 1] AS w
              FROM stokd, LATERAL (SELECT
                unnest(generate_series(1, len(t) - 1)) AS i)
              WHERE len(t) >= 2
            ), doc_bg AS (
              SELECT doc_id, v, w, COUNT(*) AS c
              FROM sbi GROUP BY doc_id, v, w
            ), j AS (
              SELECT doc_bg.doc_id, doc_bg.c, pairs.p,
                     CAST(0.75 AS DOUBLE) * c_v.n1p_v / c_v.c_v
                       AS bow,
                     CAST(cont.n1p_w AS DOUBLE) / k.n1pp AS pcont,
                     CAST(0.75 AS DOUBLE) / k.n1pp AS fl
              FROM doc_bg
              LEFT JOIN pairs USING (v, w)
              LEFT JOIN c_v USING (v)
              LEFT JOIN cont USING (w)
              CROSS JOIN k
            ), scored AS (
              SELECT doc_id, SUM(c) AS n_bigrams,
                     SUM(c * ln(COALESCE(p, bow * pcont, pcont, fl)))
                       / SUM(c) AS avg_logp
              FROM j GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(s.n_bigrams, 0) AS BIGINT)
                     AS n_bigrams,
                   ROUND(s.avg_logp, 6) AS avg_logp,
                   ROUND(exp(-s.avg_logp), 6) AS ppl
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """


def q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling (operators/sampling.quota_sample):
    at most k=3 docs kept per synthetic domain, chosen by
    deterministic md5 rank — the per-site cap every CC-derived corpus
    applies against site dominance.  ONE keyed shuffle + window
    row_number; the oracle is the identical ROW_NUMBER closed form
    over the same md5 bucket, so membership must match row-for-row."""
    from vtk_reserves_spark.operators.sampling import quota_sample

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        F.concat(F.lit("dom"), (F.col("doc_id") % 17).cast("string")).alias(
            "domain"
        ),
    )
    return quota_sample(keyed, "domain", 3, "doc_id")
q_domain_quota.oracle = """
            -- identical md5-rank quota: keep 3 per domain by the
            -- bucket ('0x'||substr(md5('quota_'||id),1,8))::BIGINT
            -- % 1000000, ties by doc_id (quota_sample closed form)
            SELECT doc_id, domain FROM (
              SELECT doc_id,
                     'dom' || CAST(doc_id % 17 AS VARCHAR) AS domain,
                     ROW_NUMBER() OVER (
                       PARTITION BY doc_id % 17
                       ORDER BY ('0x' || substr(md5('quota_' ||
                                 CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                                % 1000000,
                                doc_id
                     ) AS rn
              FROM documents
            ) WHERE rn <= 3
        """


def q_script_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script detection (functions/text.script_fractions):
    per-doc character fractions across latin / cyrillic / arabic /
    cjk / hangul / devanagari — the multilingual-curation signal a
    stopword language guesser can't provide.  Docs with id%3==0 get a
    five-script suffix appended, so every class fires; the suffix's
    per-script character counts are constants, making the oracle a
    closed form over the ASCII base text."""
    from vtk_reserves_spark.functions.text import script_fractions

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = " Привет 世界 مرحبا 안녕 नमस्ते"
    synth = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(suffix))
    ).otherwise(F.col("text"))
    fr = script_fractions(synth)
    return docs.select(
        "doc_id", *[fr[k].alias(k) for k in sorted(fr)]
    )
q_script_stats.oracle = """
            -- closed form of the script-fraction rule (q_script_stats):
            -- the id%3==0 suffix adds constant per-script counts
            -- (cyr 6, cjk 2, arabic 5, hangul 2, devanagari 6, 21
            -- non-space chars); the ASCII base contributes only latin
            WITH d AS (
              SELECT doc_id, text,
                     length(regexp_replace(COALESCE(text, ''),
                            '[^A-Za-z]', '', 'g')) AS latin,
                     length(regexp_replace(COALESCE(text, ''),
                            '\\s', '', 'g')) AS nonspace,
                     doc_id % 3 = 0 AS sfx
              FROM documents
            ),
            t AS (
              SELECT doc_id, text, latin,
                     nonspace + CASE WHEN sfx THEN 21 ELSE 0 END AS total,
                     CASE WHEN sfx THEN 5 ELSE 0 END AS ar,
                     CASE WHEN sfx THEN 2 ELSE 0 END AS cj,
                     CASE WHEN sfx THEN 6 ELSE 0 END AS cy,
                     CASE WHEN sfx THEN 6 ELSE 0 END AS de,
                     CASE WHEN sfx THEN 2 ELSE 0 END AS ha
              FROM d
            )
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN total > 0 THEN round(ar / CAST(total AS DOUBLE), 6)
                        ELSE 0.0 END AS frac_arabic,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN total > 0 THEN round(cj / CAST(total AS DOUBLE), 6)
                        ELSE 0.0 END AS frac_cjk,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN total > 0 THEN round(cy / CAST(total AS DOUBLE), 6)
                        ELSE 0.0 END AS frac_cyrillic,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN total > 0 THEN round(de / CAST(total AS DOUBLE), 6)
                        ELSE 0.0 END AS frac_devanagari,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN total > 0 THEN round(ha / CAST(total AS DOUBLE), 6)
                        ELSE 0.0 END AS frac_hangul,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN total > 0 THEN round(latin / CAST(total AS DOUBLE), 6)
                        ELSE 0.0 END AS frac_latin
            FROM t
        """


def q_curation_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packaged C4 + Gopher document-filter policies
    (functions/text.curation_policy): six synthetic text shapes — a
    clean passage, a curly-brace code marker, a lorem-ipsum stub,
    bullet walls, degenerate word lengths, ellipsis trails — each
    yielding a known (keep, first-failed-rule) verdict under BOTH
    policies.  The Spark side evaluates the full rule chains; the
    oracle pins the expected verdict per shape, so every rule's
    threshold arithmetic and the first-fail ordering are verified."""
    from vtk_reserves_spark.functions.text import (
        curation_signals, curation_verdict,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    base = "the quick brown fox jumps over the lazy dog " * 7
    m = (F.col("doc_id") % 6).cast("int")
    synth = (
        F.when(m == 0, F.lit("the quick brown fox jumps over the lazy dog " * 8))
        .when(m == 1, F.lit(base + "{x}"))
        .when(m == 2, F.lit("lorem ipsum " + base))
        .when(m == 3, F.lit("- bullet item here\n" * 60))
        .when(m == 4, F.lit("a ab " * 40))
        .otherwise(F.lit("this sentence surely trails off...\n" * 20))
    )
    # materialize the signal columns once; the verdicts are then cheap
    # CASEs over attributes (CollapseProject keeps the split)
    sig_cols = curation_signals(synth)
    with_sig = docs.select(
        "doc_id", *[c.alias(k) for k, c in sig_cols.items()]
    )
    sig = {k: F.col(k) for k in sig_cols}
    c4 = curation_verdict(sig, "c4")
    gopher = curation_verdict(sig, "gopher")
    return with_sig.select(
        "doc_id",
        c4["keep"].alias("c4_keep"),
        c4["reason"].alias("c4_reason"),
        gopher["keep"].alias("gopher_keep"),
        gopher["reason"].alias("gopher_reason"),
    )
q_curation_policy.oracle = """
            -- verdict table for the six synthetic shapes
            -- (q_curation_policy): each doc_id%6 class has a constant
            -- (keep, first-failed-rule) under both policies
            SELECT doc_id,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 1 THEN FALSE WHEN 2 THEN FALSE
                     WHEN 4 THEN FALSE WHEN 5 THEN FALSE
                     ELSE TRUE END AS c4_keep,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 1 THEN 'curly_brace'
                     WHEN 2 THEN 'lorem_ipsum'
                     WHEN 4 THEN 'word_len_out_of_range'
                     WHEN 5 THEN 'ellipsis_lines'
                     ELSE NULL END AS c4_reason,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 3 THEN FALSE WHEN 4 THEN FALSE
                     WHEN 5 THEN FALSE
                     ELSE TRUE END AS gopher_keep,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 3 THEN 'bullet_lines'
                     WHEN 4 THEN 'word_len_out_of_range'
                     WHEN 5 THEN 'ellipsis_lines'
                     ELSE NULL END AS gopher_reason
            FROM documents
        """
