"""Training-data pipeline operators: dedup, text analysis, similarity.

These are first-class components for the 100 TB web-text use case (the
task brief lists them alongside SURVEY.md §2). Every oracle-checked
entry derives all hashes from md5 (identical in Spark and DuckDB) --
never engine-private hash functions -- and computes float similarity
with the SAME operation order in both engines.

Scale notes:
- exact dedup / fingerprinting: hash-groupBy, partial-agg friendly.
- n-gram jaccard: explode(shingles) + self-join on shingle -- the exact
  method; quadratic only within shingle-sharing groups. The scale path
  is minhash_lsh_dedup: band-bucket join generates candidates in
  O(docs x bands), then the exact verify runs only on candidates.
- ANN: brute-force cosine is the correctness baseline (broadcast the
  query set, one pass over the corpus); the LSH-bucketed variant
  (functions.similarity) is the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.minhash import MINHASH_K as _MINHASH_K
from ..functions.minhash import mh_sig as _mh_sig
from ..functions.minhash import shingle_arr, shingles  # noqa: F401
from .catalog import ORACLES, QUERIES, _register, load

# ----------------------------------------------------------------------
# shared text helpers (Spark side)
# ----------------------------------------------------------------------

#: deterministic dup-augmented documents: every 7th doc gets a near-dup
#: copy (id+100000, text + a short tail), every 10th an exact copy
#: (id+200000). Both engines build the same input, so dedup operators
#: have real work at any SF.
_DOCS_AUG_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, concat(text, ' zz near dup tail') AS text
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""

def _shingles_sql(src: str = "docs_aug") -> str:
    """DuckDB spelling of the cross-engine shingle contract over table
    ``src`` -- ONE definition (mirrors ``shingle_arr``); every oracle
    that shingles derives from it so a width change edits one place."""
    return f"""
      SELECT doc_id,
             unnest(list_distinct([array_to_string(w[i:i+2], ' ')
                                   for i in generate_series(1, len(w) - 2)])) AS shingle
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM {src})
      WHERE len(w) >= 3
"""


_SHINGLES_SQL = _shingles_sql()


def docs_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit fan-out: a small-SF documents table arrives as 1-3
    # parquet splits, which pins the compute-bound shingle+md5 pipeline
    # downstream of every dedup/text operator to 3 of 32 cores. The
    # shuffle moves only (doc_id, text) once; at 100 TB the scan
    # arrives in thousands of splits and this repartition is a no-op
    # cost-wise (uniform doc_id keys, one narrow exchange). Explicit
    # count because AQE would coalesce a few-MB shuffle back to one
    # partition, re-serializing the compute.
    n_parts = spark.sparkContext.defaultParallelism
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(n_parts, "doc_id")
    )
    near = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") + 100000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz near dup tail")).alias("text"))
    )
    exact = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return d.unionByName(near).unionByName(exact)


# the md5->60-bit hash contract lives in functions/sketchlib.py (ONE
# spelling, shared with the sketch queries and the engine's ANALYZE);
# re-exported under the module-local names every query here uses
from ..functions.sketchlib import MD5_LONG_SQL as _MD5_LONG_SQL  # noqa: E402
from ..functions.sketchlib import md5_long as _md5_long  # noqa: E402


# ======================================================================
# Deduplication
# ======================================================================


@_register(
    "dedup_exact",
    f"""
    WITH docs_aug AS ({_DOCS_AUG_SQL})
    SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM docs_aug
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content fingerprint, keep min id.
    Scale: single shuffle on the md5 (uniform by construction -- no
    skew); at 100 TB you'd group on (md5, length) to cheapen compares."""
    d = docs_aug(spark, sf_dir)
    return (
        d.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


@_register(
    "dedup_passages",
    f"""
    WITH docs_aug AS ({_DOCS_AUG_SQL}),
    d AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs_aug),
    c AS (
      SELECT doc_id, chunk_idx,
             array_to_string(w[(chunk_idx-1)*10+1 : (chunk_idx-1)*10+10],
                             ' ') AS chunk
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, (len(w)+9)//10)) AS chunk_idx
            FROM d)
    ),
    k AS (
      SELECT doc_id, chunk_idx, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk
                                ORDER BY doc_id, chunk_idx) = 1 AS kept
      FROM c
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dup_chunks,
           md5(COALESCE(array_to_string(list(chunk ORDER BY chunk_idx)
                                          FILTER (WHERE kept), ' '),
                        '')) AS kept_md5
    FROM k GROUP BY 1
    """,
)
def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (the Lee et al. 'Deduplicating Training
    Data' substring dedup at fixed passage granularity): split every
    document into consecutive 10-word chunks, keep only the corpus-FIRST
    occurrence of each chunk (first = min (doc_id, chunk_idx), a total
    deterministic order), and re-emit per document the chunk counts plus
    the md5 of the deduplicated text so the rewrite itself is verified,
    not just the counts. Exact-copy docs lose every chunk; near-dup
    docs lose their shared prefix but keep their novel tail -- finer
    than doc-level dedup, cheaper than suffix arrays.

    Scale: chunking is a narrow projection; the winner election is ONE
    algebraic groupBy (min-struct, map-side combine) on md5(chunk) --
    a 32-char uniform key instead of the full 10-word string, so the
    shuffle carries digests, not text; the join-back hits the same key
    (AQE exchange reuse); per-doc reassembly shuffles on doc_id once.
    collect_list order is repaired by array_sort on (chunk_idx, chunk)
    structs, so the md5 is deterministic under any partitioning."""
    d = docs_aug(spark, sf_dir).withColumn("w", F.split("text", " "))
    chunks = F.expr(
        "transform(sequence(1, (size(w)+9) div 10),"
        " i -> struct(i AS chunk_idx,"
        "             concat_ws(' ', slice(w, (i-1)*10+1, 10)) AS chunk))"
    )
    c = (
        d.select("doc_id", F.explode(chunks).alias("s"))
        .select("doc_id", "s.chunk_idx", "s.chunk")
        .withColumn("h", F.md5("chunk"))
    )
    win = c.groupBy("h").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("first"))
    j = c.join(win, "h").withColumn(
        "kept",
        (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("chunk_idx") == F.col("first.chunk_idx")),
    )
    kept_structs = F.collect_list(
        F.when(F.col("kept"), F.struct("chunk_idx", "chunk")))
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("n_dup_chunks"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(F.array_sort(kept_structs), lambda x: x.chunk),
            )
        ).alias("kept_md5"),
    )


@_register(
    "dedup_ngram_jaccard",
    f"""
    WITH docs_aug AS ({_DOCS_AUG_SQL}),
    sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc1, doc2,
           ROUND(CAST(n_inter AS DOUBLE) / (s1.n + s2.n - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes s1 ON s1.doc_id = doc1
    JOIN sizes s2 ON s2.doc_id = doc2
    WHERE CAST(n_inter AS DOUBLE) / (s1.n + s2.n - n_inter) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard >= 0.6 via shingle
    self-join. Scale: the join key is the shingle -- cardinality
    explodes only for stop-shingles; the minhash variant below is the
    100 TB path. Jaccard = int/int double division: engine-identical."""
    sh = shingles(docs_aug(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    jac = F.col("n_inter").cast("double") / (F.col("s1.n") + F.col("s2.n") - F.col("n_inter"))
    return (
        inter.join(F.broadcast(s1), F.col("doc1") == F.col("s1.doc_id"))
        .join(F.broadcast(s2), F.col("doc2") == F.col("s2.doc_id"))
        .filter(jac >= 0.6)
        .select("doc1", "doc2", F.round(jac, 6).alias("jaccard"))
    )


@_register(
    "dedup_containment",
    f"""
    WITH docs_aug AS ({_DOCS_AUG_SQL}),
    sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT inner_doc, outer_doc,
           ROUND(CAST(n_inter AS DOUBLE) / s1.n, 6) AS containment
    FROM inter
    JOIN sizes s1 ON s1.doc_id = inner_doc
    WHERE CAST(n_inter AS DOUBLE) / s1.n >= 0.9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL near-dup: shingle containment |A∩B| / |A| >= 0.9
    flags documents whose content is (almost) wholly inside another --
    quote farms, boilerplate supersets, truncated mirrors. Jaccard
    misses these when the containing doc is much larger (the union
    denominator dilutes); containment is the asymmetric complement
    every dedup pipeline runs beside it.

    Scale: same equi-join-on-shingle shape as dedup_ngram_jaccard
    (declared exact baseline; the banded-minhash path below is the
    100 TB candidate generator), one extra broadcast of the per-doc
    size table. int/int double division -- engine-identical."""
    sh = shingles(docs_aug(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("inner_doc"),
                 F.col("b.doc_id").alias("outer_doc"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    s1 = sizes.alias("s1")
    cont = F.col("n_inter").cast("double") / F.col("s1.n")
    return (
        inter.join(F.broadcast(s1), F.col("inner_doc") == F.col("s1.doc_id"))
        .filter(cont >= 0.9)
        .select("inner_doc", "outer_doc", F.round(cont, 6).alias("containment"))
    )


_MINHASH_SQL = f"""
    WITH docs_aug AS ({_DOCS_AUG_SQL}),
    sh AS ({_SHINGLES_SQL}),
    hashes AS (
      SELECT doc_id, k,
             MIN({_MD5_LONG_SQL.format(x="concat(CAST(k AS VARCHAR), ':', shingle)")}) AS mh
      FROM sh, (SELECT unnest(generate_series(0, {_MINHASH_K - 1})) AS k)
      GROUP BY doc_id, k
    ),
    sig AS (
      SELECT doc_id, k // 2 AS band,
             MIN(CASE WHEN k % 2 = 0 THEN mh END) AS h0,
             MIN(CASE WHEN k % 2 = 1 THEN mh END) AS h1
      FROM hashes GROUP BY doc_id, k // 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc1, c.doc2, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc1
      JOIN sh b ON b.doc_id = c.doc2 AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT doc1, doc2,
           ROUND(CAST(n_inter AS DOUBLE) / (s1.n + s2.n - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes s1 ON s1.doc_id = doc1
    JOIN sizes s2 ON s2.doc_id = doc2
    WHERE CAST(n_inter AS DOUBLE) / (s1.n + s2.n - n_inter) >= 0.5
"""


@_register("minhash_lsh_dedup", _MINHASH_SQL)
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection -- the 100 TB dedup path:
    shingle -> K=6 md5-derived minhashes -> 3 bands of 2 -> band-bucket
    self-join for candidates -> exact-Jaccard verify (>= 0.5) on
    candidates only. Scale: candidate generation is linear in docs
    (band join on uniform 120-bit keys -- no skew), the quadratic
    verify touches only same-bucket pairs."""
    sh = shingles(docs_aug(spark, sf_dir))
    sig = _mh_sig(spark, sh)
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.h0") == F.col("b.h0"))
               & (F.col("a.h1") == F.col("b.h1")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc1"))
        .join(sb, (F.col("sb.doc_id") == F.col("doc2")) & (F.col("sb.shingle") == F.col("sa.shingle")))
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    s1, s2 = sizes.alias("s1"), sizes.alias("s2")
    jac = F.col("n_inter").cast("double") / (F.col("s1.n") + F.col("s2.n") - F.col("n_inter"))
    return (
        inter.join(F.broadcast(s1), F.col("doc1") == F.col("s1.doc_id"))
        .join(F.broadcast(s2), F.col("doc2") == F.col("s2.doc_id"))
        .filter(jac >= 0.5)
        .select("doc1", "doc2", F.round(jac, 6).alias("jaccard"))
    )


_CORPUS_PRED = "doc_id < 100000 AND doc_id % 10 != 3"
_BATCH_PRED = "doc_id >= 100000 OR doc_id % 10 = 3"

_INCR_DEDUP_SQL = f"""
    WITH docs_aug AS ({_DOCS_AUG_SQL}),
    corpus AS (SELECT * FROM docs_aug WHERE {_CORPUS_PRED}),
    batch AS (SELECT * FROM docs_aug WHERE {_BATCH_PRED}),
    shc AS ({_shingles_sql("corpus")}),
    shb AS ({_shingles_sql("batch")}),
    ks AS (SELECT unnest(generate_series(0, {_MINHASH_K - 1})) AS k),
    hc AS (
      SELECT doc_id, k,
             MIN({_MD5_LONG_SQL.format(x="concat(CAST(k AS VARCHAR), ':', shingle)")}) AS mh
      FROM shc, ks GROUP BY doc_id, k
    ),
    hb AS (
      SELECT doc_id, k,
             MIN({_MD5_LONG_SQL.format(x="concat(CAST(k AS VARCHAR), ':', shingle)")}) AS mh
      FROM shb, ks GROUP BY doc_id, k
    ),
    sigc AS (
      SELECT doc_id, k // 2 AS band,
             MIN(CASE WHEN k % 2 = 0 THEN mh END) AS h0,
             MIN(CASE WHEN k % 2 = 1 THEN mh END) AS h1
      FROM hc GROUP BY doc_id, k // 2
    ),
    sigb AS (
      SELECT doc_id, k // 2 AS band,
             MIN(CASE WHEN k % 2 = 0 THEN mh END) AS h0,
             MIN(CASE WHEN k % 2 = 1 THEN mh END) AS h1
      FROM hb GROUP BY doc_id, k // 2
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS bdoc, c.doc_id AS cdoc
      FROM sigb b JOIN sigc c
        ON b.band = c.band AND b.h0 = c.h0 AND b.h1 = c.h1
    ),
    sizes_b AS (SELECT doc_id, COUNT(*) AS n FROM shb GROUP BY doc_id),
    sizes_c AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    inter AS (
      SELECT x.bdoc, x.cdoc, COUNT(*) AS n_inter
      FROM cand x
      JOIN shb a ON a.doc_id = x.bdoc
      JOIN shc b ON b.doc_id = x.cdoc AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    ver AS (
      SELECT i.bdoc, i.cdoc,
             CAST(n_inter AS DOUBLE) / (sb.n + sc.n - n_inter) AS jac
      FROM inter i
      JOIN sizes_b sb ON sb.doc_id = i.bdoc
      JOIN sizes_c sc ON sc.doc_id = i.cdoc
      WHERE CAST(n_inter AS DOUBLE) / (sb.n + sc.n - n_inter) >= 0.5
    )
    SELECT bt.doc_id,
           COALESCE(v.n_matches, 0) AS n_matches,
           COALESCE(v.dup_of, -1) AS dup_of,
           COALESCE(v.max_jaccard, 0.0) AS max_jaccard
    FROM (SELECT doc_id FROM batch) bt
    LEFT JOIN (
      SELECT bdoc, COUNT(*) AS n_matches, MIN(cdoc) AS dup_of,
             ROUND(MAX(jac), 6) AS max_jaccard
      FROM ver GROUP BY bdoc
    ) v ON bt.doc_id = v.bdoc
"""


@_register("dedup_incremental", _INCR_DEDUP_SQL)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dedup -- the shape a continuous-ingest pipeline
    actually runs: an incoming BATCH of documents is checked against a
    standing CORPUS (not against itself) via the shared MinHash band
    signatures (:func:`_mh_sig`), band equi-join batch->corpus for
    candidates, exact-Jaccard verify (>= 0.5) on candidates only, then
    every batch doc gets a verdict row (``n_matches``, deterministic
    ``dup_of`` = min matching corpus doc_id, ``max_jaccard``; -1/0.0
    when novel). Scale: per-batch cost is O(batch) -- the corpus band
    index is computed once and, in production, persisted bucketed by
    (band, h0, h1) so each micro-batch joins against it without
    recomputation (the LakeTable merge-on-read pattern applied to a
    dedup index); the verify join touches only candidate pairs'
    shingles. The batch side of every join is the small side and
    broadcasts; nothing quadratic ever materializes."""
    aug = docs_aug(spark, sf_dir)
    corpus = aug.filter(F.expr(_CORPUS_PRED))
    batch = aug.filter(F.expr(_BATCH_PRED))
    shc, shb = shingles(corpus), shingles(batch)
    sigc = _mh_sig(spark, shc)
    sigb = _mh_sig(spark, shb).alias("b")
    cand = (
        sigb.join(
            sigc.alias("c"),
            (F.col("b.band") == F.col("c.band"))
            & (F.col("b.h0") == F.col("c.h0"))
            & (F.col("b.h1") == F.col("c.h1")),
        )
        .select(F.col("b.doc_id").alias("bdoc"), F.col("c.doc_id").alias("cdoc"))
        .distinct()
    )
    sizes_b = shb.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sizes_c = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(shb.alias("sa"), F.col("sa.doc_id") == F.col("bdoc"))
        .join(
            shc.alias("sc"),
            (F.col("sc.doc_id") == F.col("cdoc"))
            & (F.col("sc.shingle") == F.col("sa.shingle")),
        )
        .groupBy("bdoc", "cdoc")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("sb.n") + F.col("sc2.n") - F.col("n_inter")
    )
    ver = (
        inter.join(F.broadcast(sizes_b.alias("sb")), F.col("bdoc") == F.col("sb.doc_id"))
        .join(sizes_c.alias("sc2"), F.col("cdoc") == F.col("sc2.doc_id"))
        .filter(jac >= 0.5)
        .select("bdoc", "cdoc", jac.alias("jac"))
    )
    verdicts = ver.groupBy("bdoc").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("cdoc").alias("dup_of"),
        F.round(F.max("jac"), 6).alias("max_jaccard"),
    )
    return (
        batch.select("doc_id")
        .join(verdicts, F.col("doc_id") == F.col("bdoc"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_matches"), F.lit(0)).alias("n_matches"),
            F.coalesce(F.col("dup_of"), F.lit(-1)).alias("dup_of"),
            F.coalesce(F.col("max_jaccard"), F.lit(0.0)).alias("max_jaccard"),
        )
    )


# ======================================================================
# Text analysis
# ======================================================================

_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "de", "una", "y"],
}


def _sql_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
    return f"len(list_filter(string_split(lower(text), ' '), t -> t IN ({words})))"


@_register(
    "text_lang_id",
    f"""
    SELECT doc_id, lang,
           {_sql_hits('en')} AS en_hits,
           {_sql_hits('de')} AS de_hits,
           {_sql_hits('fr')} AS fr_hits,
           {_sql_hits('es')} AS es_hits,
           CASE
             WHEN {_sql_hits('en')} >= greatest({_sql_hits('de')}, {_sql_hits('fr')}, {_sql_hits('es')}) THEN 'en'
             WHEN {_sql_hits('de')} >= greatest({_sql_hits('fr')}, {_sql_hits('es')}) THEN 'de'
             WHEN {_sql_hits('fr')} >= {_sql_hits('es')} THEN 'fr'
             ELSE 'es'
           END AS lang_guess
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID (n-gram-heuristic family). All JVM-side
    builtins (split + filter + size) -- embarrassingly parallel, no
    shuffle. Deterministic argmax tie-break order en>de>fr>es."""
    d = load(spark, sf_dir, "documents")
    w = F.split(F.lower(F.col("text")), " ")

    def hits(lang: str) -> F.Column:
        arr = F.array(*[F.lit(x) for x in _STOPWORDS[lang]])
        return F.size(F.filter(w, lambda t: F.array_contains(arr, t)))

    en, de, fr, es = hits("en"), hits("de"), hits("fr"), hits("es")
    guess = (
        F.when(en >= F.greatest(de, fr, es), "en")
        .when(de >= F.greatest(fr, es), "de")
        .when(fr >= es, "fr")
        .otherwise("es")
    )
    return d.select(
        "doc_id", "lang",
        en.alias("en_hits"), de.alias("de_hits"),
        fr.alias("fr_hits"), es.alias("es_hits"),
        guess.alias("lang_guess"),
    )


@_register(
    "text_quality_stats",
    """
    SELECT doc_id,
           length(text) AS n_chars_actual,
           len(string_split(text, ' ')) AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+')) AS n_alpha_tokens,
           length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
           ROUND(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) / length(text), 6) AS space_ratio,
           ROUND(CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS stopword_ratio,
           (length(text) >= 100 AND len(string_split(text, ' ')) >= 20) AS quality_ok
    FROM documents
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / token / punctuation / stopword ratios
    plus a keep-flag -- the standard pre-training filter features. No
    shuffle; everything codegen'd on the scan."""
    d = load(spark, sf_dir, "documents")
    text = F.col("text")
    toks = F.split(text, " ")
    ltoks = F.split(F.lower(text), " ")
    stop = F.array(*[F.lit(x) for x in _STOPWORDS["en"]])
    n_tokens = F.size(toks)
    return d.select(
        "doc_id",
        F.length(text).alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        F.size(F.regexp_extract_all(F.lower(text), F.lit("[a-z]+"), F.lit(0))).alias("n_alpha_tokens"),
        (F.length(text) - F.length(F.regexp_replace(text, "[.,;:!?]", ""))).alias("n_punct"),
        F.round(
            (F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit("")))).cast("double")
            / F.length(text), 6,
        ).alias("space_ratio"),
        F.round(
            F.size(F.filter(ltoks, lambda t: F.array_contains(stop, t))).cast("double") / n_tokens, 6
        ).alias("stopword_ratio"),
        ((F.length(text) >= 100) & (n_tokens >= 20)).alias("quality_ok"),
    )


@_register(
    "doc_fingerprint",
    f"""
    WITH docs_aug AS ({_DOCS_AUG_SQL})
    SELECT doc_id,
           md5(lower(text)) AS fp,
           {_MD5_LONG_SQL.format(x="lower(text)")} AS fp60,
           len(list_distinct([array_to_string(w[i:i+2], ' ')
                              for i in generate_series(1, len(w) - 2)])) AS n_shingles
    FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS w FROM docs_aug)
    WHERE len(w) >= 3
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full md5, a 60-bit integer fingerprint
    (join-friendly), and the distinct-shingle cardinality."""
    d = docs_aug(spark, sf_dir)
    w = F.split(F.lower(F.col("text")), " ")
    return (
        d.withColumn("_w", w)
        .filter(F.size("_w") >= 3)
        .select(
            "doc_id",
            F.md5(F.lower(F.col("text"))).alias("fp"),
            _md5_long(F.lower(F.col("text"))).alias("fp60"),
            F.size(F.array_distinct(shingle_arr(F.col("_w")))).alias("n_shingles"),
        )
    )


#: per-language sampling rates out of 100 (md5-derived, deterministic):
#: the "more English than tail languages" rebalancing every pretraining
#: corpus applies
_SAMPLE_RATES = {"en": 90, "de": 50, "fr": 50, "es": 50}
_SAMPLE_DEFAULT = 25

_SAMPLE_RATE_SQL = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _SAMPLE_RATES.items()
) + f" ELSE {_SAMPLE_DEFAULT} END"


def _die_sql(prefix: str, mod: int) -> str:
    """DuckDB spelling of the md5 die: ``_md5_long(prefix:doc_id) % mod``
    -- derived from _MD5_LONG_SQL so the hash contract has one home."""
    return _MD5_LONG_SQL.format(
        x=f"concat('{prefix}:', CAST(doc_id AS VARCHAR))"
    ) + f" % {mod}"


@_register(
    "corpus_sample",
    f"""
    WITH tagged AS (
      SELECT source, lang, doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             {_die_sql("sample", 100)} AS die,
             {_SAMPLE_RATE_SQL} AS rate
      FROM documents
    )
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN die < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN die < rate THEN n_tokens ELSE 0 END) AS BIGINT)
             AS sampled_tokens,
           MIN(rate) AS rate_pct
    FROM tagged
    GROUP BY source, lang
    """,
)
def corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling: each doc rolls an
    md5-derived die and survives if it lands under its language's
    rate -- the rebalancing step (upsample head languages, downsample
    tail) every pretraining corpus applies. Hash-based dice make the
    sample REPRODUCIBLE and incrementally stable: re-running over a
    grown corpus keeps every previously-sampled doc, unlike rand().

    Scale: a pure scan (hash + compare per row, no shuffle for the
    filter itself); the per-stratum report is one algebraic groupBy."""
    d = load(spark, sf_dir, "documents")
    die = _md5_long(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))) % 100
    rate = F.lit(_SAMPLE_DEFAULT)
    for k, v in reversed(_SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    keep = (die < rate).cast("long")
    n_tokens = F.size(F.split(F.col("text"), " "))
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep).alias("n_sampled"),
        F.sum(F.when(keep == 1, n_tokens).otherwise(0)).alias("sampled_tokens"),
        F.min(rate).alias("rate_pct"),
    )


@_register(
    "corpus_balanced_sample",
    f"""
    WITH counts AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
    mn AS (SELECT MIN(cnt) AS min_cnt FROM counts),
    tagged AS (
      SELECT d.doc_id, d.lang, {_die_sql("balance", 10000)} AS die,
             c.cnt, mn.min_cnt
      FROM documents d JOIN counts c USING (lang), mn
    )
    SELECT doc_id, lang FROM tagged WHERE die * cnt < 10000 * min_cnt
    """,
)
def corpus_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced corpus sampling with DATA-DEPENDENT rates:
    downsample every language to (approximately) the size of the
    smallest one. Unlike corpus_sample's fixed rate table, the keep
    probability min_cnt/cnt comes from a first aggregation pass over
    the corpus itself; the per-doc decision is the same reproducible
    md5 die, compared via integer cross-multiplication
    (die * cnt < 10000 * min_cnt) so both engines decide each doc
    exactly -- no float rate rounding. Output is the kept-membership
    itself (doc_id, lang), so the hash check pins every decision.

    Scale: pass 1 is an algebraic groupBy on lang (map-side combine,
    |langs| rows); the rate table broadcasts; pass 2 is a pure scan
    with a per-row hash + compare. The 1-row min_cnt aggregate rides
    a constant broadcast (same shape as hot_domains' denominator).
    Hash dice keep the sample incrementally stable as the corpus
    grows (modulo the rate drifting with new counts)."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    mn = counts.agg(F.min("cnt").alias("min_cnt"))
    die = _md5_long(F.concat(F.lit("balance:"), F.col("doc_id").cast("string"))) % 10000
    return (
        d.select("doc_id", "lang", die.alias("die"))
        .join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(mn))
        .filter(F.col("die") * F.col("cnt") < 10000 * F.col("min_cnt"))
        .select("doc_id", "lang")
    )


@_register(
    "corpus_shuffle",
    """
    WITH ordered AS (
      SELECT doc_id,
             md5(concat('shuffle:', CAST(doc_id AS VARCHAR))) AS shuffle_key,
             ROW_NUMBER() OVER (ORDER BY md5(concat('shuffle:', CAST(doc_id AS VARCHAR)))) AS position
      FROM documents
    )
    SELECT position, doc_id, shuffle_key FROM ordered WHERE position <= 100
    """,
)
def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle over the FULL
    corpus: order by an md5-derived key and assign every document its
    1-based position -- the 'shuffle the corpus once, stream it in
    order' step before sharding into training files. The first 100
    positions are returned as the bounded checkable prefix.

    Scale (this IS the full-corpus variant, not a top-k shortcut):
    ONE range-partitioned total sort (Spark samples split points, so
    each partition holds a contiguous key range, sorted within), then
    zipWithIndex-style positions: an Arrow-batched per-partition local
    index (narrow mapInPandas, no extra shuffle) plus per-partition
    row-count offsets folded on the driver (P integers). No global
    window -- a Window.orderBy without partitioning would funnel the
    corpus through ONE task; this plan's only wide exchange is the
    range partitioner itself. The count pass recomputes the sort at
    tiny SF; at 100 TB you persist/checkpoint the sorted run once and
    pay the two passes against it -- same contract as RDD.zipWithIndex
    (deterministic partitioning between the count job and the map)."""
    d = load(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string")))
    keyed = d.select("doc_id", key.alias("shuffle_key"))
    n_parts = max(2, spark.sparkContext.defaultParallelism // 2)
    sorted_df = keyed.repartitionByRange(n_parts, "shuffle_key").sortWithinPartitions(
        "shuffle_key"
    )

    def local_index(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        i = 0
        for pdf in batches:
            if len(pdf):
                pdf = pdf.assign(_pid=pid, _idx=range(i, i + len(pdf)))
                i += len(pdf)
                yield pdf

    indexed = sorted_df.mapInPandas(
        local_index, "doc_id long, shuffle_key string, _pid int, _idx long"
    )
    # job 1: per-partition counts (P tiny rows) -> cumulative offsets
    counts = {r["_pid"]: r["n"] for r in
              indexed.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()}
    offsets, acc = {}, 0
    for p in range(n_parts):
        offsets[p] = acc
        acc += counts.get(p, 0)
    off_map = F.create_map(
        *[F.lit(x) for p in range(n_parts) for x in (p, offsets[p])]
    )
    # job 2: global position = partition offset + local index + 1
    return (
        indexed.withColumn(
            "position", (F.element_at(off_map, F.col("_pid")) + F.col("_idx") + 1)
        )
        .filter(F.col("position") <= 100)
        .select("position", "doc_id", "shuffle_key")
    )


#: train/val/test dice out of 100 -- the split every training corpus
#: needs; md5-derived so membership is reproducible and a doc NEVER
#: migrates between splits as the corpus grows (rand() leaks val->train
#: on every re-run)
_SPLIT_TRAIN, _SPLIT_VAL = 98, 99


@_register(
    "corpus_train_split",
    f"""
    WITH tagged AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_tokens,
             n_chars,
             {_die_sql("split", 100)} AS die
      FROM documents
    )
    SELECT CASE WHEN die < {_SPLIT_TRAIN} THEN 'train'
                WHEN die < {_SPLIT_VAL} THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM tagged
    GROUP BY 1, 2
    """,
)
def corpus_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (98/1/1 by an md5 die on
    doc_id) with per-(split, lang) size accounting -- the holdout split
    every pretraining corpus cuts before anything else. Hash dice make
    membership a pure function of doc_id: re-running over a grown
    corpus never moves a document across the split boundary, which is
    the property that keeps the validation set uncontaminated.

    Scale: a pure scan (one hash + compare per row, no shuffle for the
    assignment itself); the report is one algebraic groupBy on a
    6-value key space -- map-side combine collapses it."""
    d = load(spark, sf_dir, "documents")
    die = _md5_long(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(die < _SPLIT_TRAIN, "train")
        .when(die < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    n_tokens = F.size(F.split(F.col("text"), " "))
    return d.select(split.alias("split"), "lang", n_tokens.alias("n_tokens"),
                    "n_chars").groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


_PACK_BUDGET = 2048  # tokens per training sequence
_PACK_SHARDS = 8  # parallel packing streams per source


@_register(
    "corpus_pack_sequences",
    f"""
    WITH t AS (
      SELECT source,
             {_die_sql("pack", _PACK_SHARDS)} AS shard,
             md5(concat('packord:', CAST(doc_id AS VARCHAR))) AS ord_key,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT source, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY ord_key
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT source, shard,
           CAST(FLOOR((cum - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
           ROUND(100.0 * SUM(n_tokens) / {_PACK_BUDGET}, 4) AS fill_pct
    FROM c
    GROUP BY 1, 2, 3
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate documents in a deterministic
    md5-shuffled order and chunk the stream at a 2048-token budget
    (pack_id = completed budgets before the doc starts) -- the
    concat-and-chunk packing step that turns a filtered corpus into
    fixed-length training sequences. Chunk boundaries may bisect a
    document (the standard pretraining convention); per-pack token
    counts land in [budget, budget + max_doc_tokens).

    Scale: packing is a sequential fold, so the plan SHARDS it --
    each (source, shard-die) stream packs independently under ONE
    window whose partition key is (source, shard): one shuffle, 8x
    parallelism per source, bounded partition state. At 100 TB you
    raise the shard count with the fleet; a partition-less
    window (the naive spelling) would funnel the corpus through one
    task."""
    d = load(spark, sf_dir, "documents")
    shard = _md5_long(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))) % _PACK_SHARDS
    ord_key = F.md5(F.concat(F.lit("packord:"), F.col("doc_id").cast("string")))
    n_tokens = F.size(F.split(F.col("text"), " "))
    t = d.select(
        "source", shard.alias("shard"), ord_key.alias("ord_key"),
        n_tokens.alias("n_tokens"),
    )
    w = (
        W.partitionBy("source", "shard")
        .orderBy("ord_key")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        t.withColumn("pack_id",
                     F.floor((cum - F.col("n_tokens")) / float(_PACK_BUDGET)))
        .groupBy("source", "shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.round(F.lit(100.0) * F.sum("n_tokens") / _PACK_BUDGET, 4).alias("fill_pct"),
        )
    )


@_register(
    "text_tfidf_topterms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok
      WHERE regexp_matches(term, '^[a-z]{3,}$')
      GROUP BY 1, 2
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf AS DOUBLE) * (SELECT n_docs FROM n) / df.df AS score
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, ROUND(score, 6) AS score, rank FROM (
      SELECT doc_id, term, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinguishing terms per document by tf-idf -- the
    keyword-extraction / topic-fingerprint signal quality filters and
    corpus explorers both consume. The idf is the RATIONAL form
    tf x N/df (pure IEEE-754 multiply/divide -- bit-identical across
    engines, unlike ln whose last-ulp may differ between libms);
    ranking is unaffected since x -> ln is monotone. Alpha terms of
    >= 3 chars only; ties broken by term so the top-3 is total-order
    deterministic.

    Scale: token explode -> (doc, term) count (map-side combine) ->
    term df (algebraic agg on the term key; stop-term skew is absorbed
    by partial aggregation, not a join fan-out) -> hash join tf x df
    on term -> per-doc window (partitioned by doc_id -- never global).
    The corpus doc count is one O(1) scalar job."""
    d = load(spark, sf_dir, "documents")
    n_docs = d.count()
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    ).filter(F.col("term").rlike("^[a-z]{3,}$"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df, "term").select(
        "doc_id", "term",
        (F.col("tf").cast("double") * F.lit(n_docs) / F.col("df")).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", F.round("score", 6).alias("score"), "rank")
    )


@_register(
    "corpus_decontaminate",
    f"""
    WITH sh0 AS ({_shingles_sql("documents")}),
    sh AS (
      SELECT doc_id, {_die_sql("split", 100)} AS die, shingle FROM sh0
    ),
    test_sh AS (SELECT DISTINCT shingle FROM sh WHERE die >= {_SPLIT_VAL})
    SELECT a.doc_id, COUNT(*) AS n_shared
    FROM sh a JOIN test_sh t ON a.shingle = t.shingle
    WHERE a.die < {_SPLIT_TRAIN}
    GROUP BY 1
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval decontamination: flag TRAIN documents sharing any word
    shingle with the held-out TEST split (the same md5 die as
    corpus_train_split), reporting the distinct shared-shingle count
    per contaminated doc -- the overlap scrub every serious
    pretraining corpus runs against its benchmarks so eval scores
    measure generalization, not memorization. 3-word shingles here
    (the repo's cross-engine shingle contract); production uses
    longer n-grams -- only the constant changes.

    Scale: explode-once, then ONE hash equi-join on the shingle
    string between the train side and the distinct test-side
    shingles -- no self-join, no all-pairs. The test/eval side is a
    fixed benchmark set in production (tiny -> broadcast); here it is
    the 1% die slice, so the plan keeps the shuffle join that
    survives an arbitrarily large eval side. Stop-shingle skew is the
    known hazard -- the mitigation is the same DF-threshold drop
    boilerplate_score computes."""
    d = load(spark, sf_dir, "documents")
    die = _md5_long(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    w = F.split(F.lower(F.col("text")), " ")
    sh = (
        d.withColumn("_w", w)
        .filter(F.size("_w") >= 3)
        .select(
            "doc_id", die.alias("die"),
            F.explode(F.array_distinct(shingle_arr(F.col("_w")))).alias("shingle"),
        )
    )
    test_sh = sh.filter(F.col("die") >= _SPLIT_VAL).select("shingle").distinct()
    return (
        sh.filter(F.col("die") < _SPLIT_TRAIN)
        .join(test_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@_register(
    "doc_repetition",
    """
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
    ),
    sh AS (
      SELECT doc_id,
             len(words) - 2 AS total_shingles,
             len(list_distinct([array_to_string(words[i:i+2], ' ')
                                for i in generate_series(1, len(words) - 2)]))
               AS distinct_shingles
      FROM w WHERE len(words) >= 3
    ),
    tok AS (
      SELECT doc_id, unnest(words) AS token, len(words) AS n_words FROM w
    ),
    topf AS (
      SELECT doc_id, MAX(cnt) AS top_cnt, MAX(n_words) AS n_words
      FROM (SELECT doc_id, token, n_words, COUNT(*) AS cnt
            FROM tok GROUP BY doc_id, token, n_words)
      GROUP BY doc_id
    )
    SELECT s.doc_id,
           s.total_shingles,
           s.distinct_shingles,
           ROUND(1.0 - CAST(s.distinct_shingles AS DOUBLE) / s.total_shingles, 6)
             AS dup_shingle_ratio,
           ROUND(CAST(t.top_cnt AS DOUBLE) / t.n_words, 6) AS top_word_ratio,
           (1.0 - CAST(s.distinct_shingles AS DOUBLE) / s.total_shingles) < 0.3
             AND CAST(t.top_cnt AS DOUBLE) / t.n_words < 0.2 AS keep
    FROM sh s JOIN topf t ON t.doc_id = s.doc_id
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (the Gopher-rules quality
    family): duplicate-3-gram fraction (1 - distinct/total shingles)
    and most-common-word fraction, with the standard keep thresholds
    (dup-shingle < 0.3 AND top-word < 0.2). Machine-generated /
    template spam scores high on both; the composed quality filters
    upstream of dedup use exactly these features.

    Scale: the shingle ratios are a pure scan (array algebra per row,
    no shuffle); the top-word fraction is one explode + two partial-agg
    groupBys keyed by doc_id -- uniform keys, map-side combine. Same
    small-SF fan-out note as docs_aug: the explicit repartition only
    matters when the scan has fewer splits than cores."""
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    words = F.split(F.lower(F.col("text")), " ")
    sh = (
        d.withColumn("_w", words)
        .filter(F.size("_w") >= 3)
        .select(
            "doc_id",
            (F.size("_w") - 2).alias("total_shingles"),
            F.size(F.array_distinct(shingle_arr(F.col("_w")))).alias("distinct_shingles"),
        )
    )
    tok = d.select("doc_id", F.size(words).alias("n_words"),
                   F.explode(words).alias("token"))
    topf = (
        tok.groupBy("doc_id", "token", "n_words")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_cnt"), F.max("n_words").alias("n_words"))
    )
    dup_ratio = F.lit(1.0) - F.col("distinct_shingles").cast("double") / F.col("total_shingles")
    top_ratio = F.col("top_cnt").cast("double") / F.col("n_words")
    return sh.join(topf, "doc_id").select(
        "doc_id",
        "total_shingles",
        "distinct_shingles",
        F.round(dup_ratio, 6).alias("dup_shingle_ratio"),
        F.round(top_ratio, 6).alias("top_word_ratio"),
        ((dup_ratio < 0.3) & (top_ratio < 0.2)).alias("keep"),
    )


@_register(
    "token_stats_by_source",
    """
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           MIN(n_chars) AS min_declared,
           MAX(n_chars) AS max_declared
    FROM documents
    GROUP BY source, lang
    """,
)
def token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per (source, lang) -- the budget query a
    training-data pipeline runs first. Partial-agg friendly."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min("n_chars").alias("min_declared"),
        F.max("n_chars").alias("max_declared"),
    )


@_register(
    "corpus_mix_weights",
    """
    WITH t AS (
      SELECT source,
             1 + (CAST(substr(source, 4) AS INT) % 4) AS weight,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
      FROM documents GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(tokens) AS BIGINT) AS total,
             CAST(SUM(weight) AS BIGINT) AS wsum
      FROM t
    )
    SELECT source, weight, tokens,
           CAST(tot.total * 6 * t.weight // (10 * tot.wsum) AS BIGINT)
             AS target_tokens,
           CAST(LEAST(t.tokens,
                      tot.total * 6 * t.weight // (10 * tot.wsum))
                AS BIGINT) AS planned_tokens,
           t.tokens < tot.total * 6 * t.weight // (10 * tot.wsum)
             AS undersupplied
    FROM t, tot
    """,
)
def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixing plan: given per-source mix weights (derived here
    from the source index so the fixture is non-uniform) and a token
    budget of 60% of the corpus, compute each source's target token
    count, the achievable (supply-capped) plan, and which sources are
    undersupplied -- the sheet a training run turns into per-source
    sampling rates. ALL arithmetic is integral (bigint multiply +
    floor division), so the plan is bit-identical across engines --
    no float shares to drift. Scale: one groupBy on source (map-side
    combine over the token counts) + a broadcast 1-row totals scalar
    (gate-exempt O(1) build side, the q11 pattern)."""
    d = load(spark, sf_dir, "documents")
    t = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("tokens")
    ).withColumn(
        "weight",
        (F.lit(1) + F.substring("source", 4, 10).cast("int") % 4),
    )
    tot = t.agg(
        F.sum("tokens").cast("long").alias("total"),
        F.sum("weight").cast("long").alias("wsum"),
    )
    target = F.expr("(total * 6 * weight) DIV (10 * wsum)")
    return (
        t.join(F.broadcast(tot))
        .select(
            "source",
            "weight",
            "tokens",
            target.cast("long").alias("target_tokens"),
            F.least(F.col("tokens"), target).cast("long")
            .alias("planned_tokens"),
            (F.col("tokens") < target).alias("undersupplied"),
        )
    )


@_register(
    "text_length_quartiles",
    """
    WITH r AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT source, MAX(n) AS n_docs,
           MAX(CASE WHEN rn = (n - 1) * 1 // 4 + 1 THEN n_chars END) AS p25,
           MAX(CASE WHEN rn = (n - 1) * 2 // 4 + 1 THEN n_chars END) AS p50,
           MAX(CASE WHEN rn = (n - 1) * 3 // 4 + 1 THEN n_chars END) AS p75
    FROM r GROUP BY 1
    """,
)
def text_length_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT order statistics per source: p25/p50/p75 document lengths
    by discrete rank (the lower-point value at rank (n-1)*k/4 + 1) --
    integer arithmetic end to end, so unlike interpolated quantile_cont
    / approx_percentile there is no float formula to drift across
    engines, and ties are value-stable under any row order (equal
    lengths at a rank yield the same length whatever the tie-break).
    The length-distribution cut is how a training pipeline picks
    truncation budgets per source. Scale: ONE shuffle on source with an
    in-partition sort; rank and group count come from the same window
    partition (one sort serves both), and the final groupBy collapses
    to 3 rows per source via conditional MAX -- no second pass, no
    per-quantile job. At extreme per-source row counts you'd swap the
    row_number for the two-pass histogram/binary-search scheme; the
    window form is the exact baseline."""
    d = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("n_chars")
    wc = W.partitionBy("source")
    r = d.select(
        "source", "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )

    def pick(k: int):
        target = ((F.col("n") - 1) * k / 4).cast("long") + 1
        return F.max(F.when(F.col("rn") == target, F.col("n_chars")))

    return r.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        pick(1).alias("p25"),
        pick(2).alias("p50"),
        pick(3).alias("p75"),
    )


# ======================================================================
# Similarity search
# ======================================================================


@_register(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 8),
    t AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS te FROM embeddings),
    sims AS (
      SELECT query_id, neighbor_id,
             list_sum(list_transform(list_zip(qe, te), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(qe, x -> x * x)))
                  * sqrt(list_sum(list_transform(te, x -> x * x)))) AS sim
      FROM q, t WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, rank, ROUND(sim, 4) AS sim_r
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM sims)
    WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 -- the ANN correctness baseline. The
    query set broadcasts; one pass over the corpus; dot/norms via
    zip_with + aggregate (JVM-side, no Python). The oracle spells the
    identical double-precision formula (cast-to-double BEFORE multiply,
    sequential sums) so results match bit-for-bit pre-rounding."""
    e = load(spark, sf_dir, "embeddings")
    to_d = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), to_d("embedding").alias("qe")
    )
    t = e.select(F.col("vec_id").alias("neighbor_id"), to_d("embedding").alias("te"))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    def norm(a):
        return F.sqrt(F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        ))

    sims = (
        t.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            (dot(F.col("qe"), F.col("te")) / (norm(F.col("qe")) * norm(F.col("te")))).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim_r"))
    )


@_register(
    "embedding_label_centroids",
    """
    SELECT label,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(emb1 AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6) AS centroid_d0,
           ROUND(CAST(SUM(CAST(emb2 AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6) AS centroid_d1
    FROM (SELECT label, CAST(embedding[1] AS DOUBLE) AS emb1, CAST(embedding[2] AS DOUBLE) AS emb2
          FROM embeddings)
    GROUP BY label
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components (dims 0,1): the reduce step of
    k-means / IVF coarse quantization. Sums run in DECIMAL for
    order-independence, divided as double."""
    e = load(spark, sf_dir, "embeddings")
    d0 = F.element_at("embedding", 1).cast("double").cast("decimal(18,8)")
    d1 = F.element_at("embedding", 2).cast("double").cast("decimal(18,8)")
    n = F.count(F.lit(1))
    return e.groupBy("label").agg(
        n.alias("n"),
        F.round((F.sum(d0).cast("double") / n), 6).alias("centroid_d0"),
        F.round((F.sum(d1).cast("double") / n), 6).alias("centroid_d1"),
    )


# ======================================================================
# Multimodal plumbing (binary columns + typed metadata; decode stubbed)
# ======================================================================


@_register(
    "media_metadata",
    """
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           md5(text) AS content_hash,
           concat('application/x-', source) AS mime
    FROM documents
    """,
)
def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata extraction: the documents' text encoded as
    a binary column stands in for image/audio payloads (the container
    has no codec libs -- see functions.multimodal for the stubbed
    decode). Length + content hash + mime tagging, all JVM-side."""
    d = load(spark, sf_dir, "documents")
    media = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(media).alias("n_bytes"),
        F.md5(media).alias("content_hash"),
        F.concat(F.lit("application/x-"), F.col("source")).alias("mime"),
    )


# NOTE: ann_lsh_bucketed is registered in plans/moreops.py alongside the
# shared multi-table LSH SQL fragments (same deterministic hp{p} plane
# family as dedup_embedding_cosine).


@_register(
    "media_frame_sample",
    """
    WITH meta AS (
      SELECT doc_id AS media_id,
             CAST(1 + CAST(concat('0x', substr(sha256(text), 5, 2)) AS INT) % 4 AS INT)
               AS n_frames
      FROM documents
    )
    SELECT media_id, CAST(unnest(generate_series(0, n_frames - 1, 2)) AS INT) AS frame_no
    FROM meta
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: every 2nd frame of each (fake-)decoded
    media payload as (media_id, frame_no) rows -- the expansion a video
    pipeline feeds to per-frame feature extraction. The decode runs in
    the Arrow-batched mapInPandas codec stub; the explode happens
    JVM-side from the decoded frame count, so the Python boundary
    carries one row per MEDIA, not per frame."""
    from ..functions.multimodal import frame_sample

    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return frame_sample(d, every_n=2).select(
        "media_id", F.col("frame_no").cast("int").alias("frame_no")
    )


@_register(
    "media_decode_meta",
    """
    SELECT doc_id AS media_id,
           CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
           substr(sha256(text), 1, 8) AS sha256_8,
           CAST(64 + CAST(concat('0x', substr(sha256(text), 1, 2)) AS INT) % 192 AS INT) AS width,
           CAST(64 + CAST(concat('0x', substr(sha256(text), 3, 2)) AS INT) % 192 AS INT) AS height,
           CAST(1 + CAST(concat('0x', substr(sha256(text), 5, 2)) AS INT) % 4 AS INT) AS n_frames
    FROM documents
    """,
)
def media_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing: binary payload -> metadata via
    Arrow-batched mapInPandas with a deterministic fake codec
    (functions.multimodal; real decode is a NotImplementedError stub
    because the container has no codec libs). The fake decode is pure
    sha256 arithmetic, so the oracle reproduces it exactly in SQL --
    the Arrow path is fully hash-checked, only the codec call is a
    stub."""
    from ..functions.multimodal import decode_media_meta

    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return decode_media_meta(d)


# sliding-window chunking: W tokens per chunk, stride S (W-S overlap)
_CHUNK_W, _CHUNK_S = 64, 48

_CHUNK_SQL = f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    c AS (
      SELECT doc_id, len(w) AS n_tok, w,
             unnest(generate_series(1,
               CASE WHEN len(w) <= {_CHUNK_W} THEN 1
                    ELSE 1 + (len(w) - {_CHUNK_W} + {_CHUNK_S} - 1)
                             // {_CHUNK_S}
               END)) AS chunk_id
      FROM d
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST((chunk_id - 1) * {_CHUNK_S} + 1 AS BIGINT) AS start_tok,
           CAST(least({_CHUNK_W}, n_tok - (chunk_id - 1) * {_CHUNK_S})
                AS BIGINT) AS chunk_tokens,
           md5(array_to_string(
             w[(chunk_id-1)*{_CHUNK_S}+1 : (chunk_id-1)*{_CHUNK_S}+{_CHUNK_W}],
             ' ')) AS chunk_md5
    FROM c
"""


@_register("doc_chunk_sliding", _CHUNK_SQL)
def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style sliding-window chunking: every document cut into
    64-token windows at stride 48 (16-token overlap), the retrieval
    prep that feeds chunk embeddings. Distinct from the passage op
    (dedup_passages: disjoint 10-word chunks for dedup) and from
    corpus_pack_sequences (cross-doc concat-and-chunk for training):
    here windows OVERLAP so no retrieval boundary splits an answer
    span. A doc shorter than one window is one chunk; otherwise the
    last window starts at the final stride step that still reaches the
    tail (1 + ceil((n-W)/S) chunks), so every token is covered and the
    final chunk may run short. Emits (doc_id, chunk_id, start_tok,
    chunk_tokens, chunk_md5) -- the md5 proves the chunk TEXT, not
    just offsets.

    Scale: narrow projection -- split/sequence/slice/md5 all in one
    codegen stage, no shuffle, no UDF; output is ~n_tok/S rows per doc.
    The explode happens JVM-side after a per-row sequence of ~n/S
    struct entries, so the fan-out never leaves the executor."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w"))
    chunks = F.expr(
        f"transform(sequence(1, CASE WHEN size(w) <= {_CHUNK_W} THEN 1"
        f" ELSE 1 + (size(w) - {_CHUNK_W} + {_CHUNK_S} - 1) div {_CHUNK_S}"
        f" END), i -> struct("
        f"   CAST(i AS BIGINT) AS chunk_id,"
        f"   CAST((i-1)*{_CHUNK_S}+1 AS BIGINT) AS start_tok,"
        f"   CAST(least({_CHUNK_W}, size(w) - (i-1)*{_CHUNK_S}) AS BIGINT)"
        f"     AS chunk_tokens,"
        f"   md5(concat_ws(' ', slice(w, (i-1)*{_CHUNK_S}+1, {_CHUNK_W})))"
        f"     AS chunk_md5))"
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("s"))
        .select("doc_id", "s.chunk_id", "s.start_tok", "s.chunk_tokens",
                "s.chunk_md5")
    )


__all__ = ["QUERIES", "ORACLES"]
