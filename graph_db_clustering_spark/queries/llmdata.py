"""LLM-data-pipeline declared queries (north-star scope): dedup,
similarity search, text analysis — each oracle-checked where ANSI-SQL can
express it, rows-only otherwise (MinHash/SimHash banding, MLlib LSH, IVF)."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_db_clustering_spark.catalog import load_table
from graph_db_clustering_spark.operators import dedup, similarity, text
from graph_db_clustering_spark.queries.corpus import declared

_STOP_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in text.STOPWORD_PROFILES.items()
}
_TOKS = "string_split_regex(LOWER(TRIM(text)), '\\s+')"


@declared(
    "dedup_exact",
    """SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies,
       ARRAY_TO_STRING(LIST_SORT(LIST(doc_id)), '|') AS dup_ids
FROM documents GROUP BY md5(text) ORDER BY keep_id""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup groups over documents (operators/dedup.exact_dedup).

    Declared surface joins dup_ids into a '|'-string: the external gate's
    pandas canonicalizer can't hash array columns (round-1 q20 lesson)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        dedup.exact_dedup(docs, "doc_id", "text")
        .withColumn("dup_ids", F.concat_ws("|", F.col("dup_ids")))
        .orderBy("keep_id")
    )


@declared(
    "distinct_documents",
    """SELECT d.doc_id, d.n_chars FROM documents d
JOIN (SELECT MIN(doc_id) AS keep FROM documents GROUP BY md5(text)) k
  ON d.doc_id = k.keep
ORDER BY d.doc_id""",
)
def distinct_documents(spark, sf_dir):
    """Corpus with exact duplicates removed, keeping the lowest id per
    content hash (operators/dedup.distinct_documents — single min(struct)
    hash-aggregate, one scan, one shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        dedup.distinct_documents(docs, "doc_id", "text")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


@declared(
    "doc_fingerprint",
    """SELECT doc_id, md5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp
FROM documents ORDER BY doc_id""",
)
def doc_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return text.fingerprint(docs, "doc_id", "text").orderBy("doc_id")


@declared(
    "text_stats",
    f"""SELECT doc_id,
  CAST(LENGTH(text) AS INT) AS n_chars,
  CAST(LEN({_TOKS}) AS INT) AS n_tokens,
  ROUND(LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g'))
        / CAST(LEN({_TOKS}) AS DOUBLE), 4) AS avg_token_len,
  ROUND(LEN(LIST_DISTINCT({_TOKS}))
        / CAST(LEN({_TOKS}) AS DOUBLE), 4) AS distinct_ratio,
  CAST(LIST_SUM(LIST_TRANSFORM(regexp_extract_all(text, '[A-Za-z]+'),
                               s -> CEIL(LENGTH(s)/4.0)))
       + LEN(regexp_extract_all(text, '[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
FROM documents ORDER BY doc_id""",
)
def text_stats(spark, sf_dir):
    """Per-doc stats incl. the BPE-ish token estimate (operators/text)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.text_stats(docs, "doc_id", "text").orderBy("doc_id")


@declared(
    "c4_rules",
    f"""SELECT doc_id,
  COALESCE(CONTAINS(LOWER(text), 'lorem ipsum'), FALSE) AS r_lorem,
  COALESCE(CONTAINS(text, '{{'), FALSE) AS r_brace,
  COALESCE(CONTAINS(LOWER(text), 'javascript'), FALSE) AS r_js,
  COALESCE(LEN({_TOKS}) < 5, FALSE) AS r_short,
  COALESCE(LIST_MAX(LIST_TRANSFORM({_TOKS}, s -> LENGTH(s))) > 50, FALSE) AS r_longword,
  COALESCE(NOT regexp_matches(TRIM(text), '[.!?"]$'), FALSE) AS r_endpunct,
  (NOT COALESCE(CONTAINS(LOWER(text), 'lorem ipsum'), FALSE)
   AND NOT COALESCE(CONTAINS(text, '{{'), FALSE)
   AND NOT COALESCE(CONTAINS(LOWER(text), 'javascript'), FALSE)
   AND NOT COALESCE(LEN({_TOKS}) < 5, FALSE)
   AND NOT COALESCE(LIST_MAX(LIST_TRANSFORM({_TOKS}, s -> LENGTH(s))) > 50, FALSE)
   AND NOT COALESCE(NOT regexp_matches(TRIM(text), '[.!?"]$'), FALSE)) AS kept
FROM documents ORDER BY doc_id""",
)
def c4_rules(spark, sf_dir):
    """C4-style hard-rule filter flags (operators/text.c4_rule_flags):
    per-rule booleans + combined kept verdict, one codegen projection."""
    docs = load_table(spark, sf_dir, "documents")
    return text.c4_rule_flags(docs, "doc_id", "text").orderBy("doc_id")


_LANG_SCORES_SQL = ",\n  ".join(
    f"LEN(LIST_INTERSECT(LIST_DISTINCT({_TOKS}), {_STOP_SQL[lang]})) AS s_{lang}"
    for lang in text.STOPWORD_PROFILES
)
_LANG_CASE_SQL = " ".join(
    f"WHEN s_{lang} = g THEN '{lang}'" for lang in text.STOPWORD_PROFILES
)


@declared(
    "lang_id",
    f"""WITH scored AS (SELECT doc_id,
  {_LANG_SCORES_SQL}
FROM documents),
g AS (SELECT doc_id, GREATEST(s_en, s_de, s_fr, s_es, s_zh) AS g, * FROM scored)
SELECT doc_id, CASE WHEN g = 0 THEN 'und' {_LANG_CASE_SQL} ELSE 'und' END AS lang_pred
FROM g ORDER BY doc_id""",
)
def lang_id(spark, sf_dir):
    """Stopword-profile language ID (operators/text.language_id); the CASE
    order in the oracle mirrors the first-profile-wins tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    return text.language_id(docs, "doc_id", "text").orderBy("doc_id")


@declared(
    "similarity_topk",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id <= 2),
c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
sims AS (
  SELECT q.qid, c.nid, list_cosine_similarity(q.qv, c.nv) AS cosine
  FROM c CROSS JOIN q WHERE q.qid <> c.nid)
SELECT qid, nid, rk, ROUND(cosine, 6) AS cosine FROM (
  SELECT qid, nid, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS INT) AS rk
  FROM sims) t
WHERE rk <= 5 ORDER BY qid, rk""",
)
def similarity_topk(spark, sf_dir):
    """Exact brute-force cosine top-5 for 3 query vectors
    (operators/similarity.brute_force_topk — the ANN baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") <= 2)
    return similarity.brute_force_topk(q, emb, "vec_id", "embedding", k=5).orderBy(
        "qid", "rk"
    )


@declared(
    "ngram_pairs",
    """WITH d AS (SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\\s+') AS w
          FROM documents WHERE doc_id < 100),
sh AS (SELECT doc_id,
              LIST_DISTINCT(LIST_TRANSFORM(
                  GENERATE_SERIES(1, GREATEST(LEN(w) - 2, 1)),
                  i -> ARRAY_TO_STRING(w[i:i+2], ' '))) AS shingles
       FROM d),
sizes AS (SELECT doc_id, LEN(shingles) AS sz FROM sh),
inv AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT id1, id2,
       ROUND(common / CAST(s1.sz + s2.sz - common AS DOUBLE), 6) AS jaccard
FROM common JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
WHERE common / CAST(s1.sz + s2.sz - common AS DOUBLE) >= 0.05
ORDER BY id1, id2""",
)
def ngram_pairs(spark, sf_dir):
    """Exact word-3-gram Jaccard pairs (inverted-index join — only pairs
    sharing a shingle are scored; operators/dedup.ngram_jaccard_pairs)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.05).orderBy(
        "id1", "id2"
    )


@declared(
    "embedding_near_dups",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id < 100)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.25
ORDER BY id1, id2""",
)
def embedding_near_dups(spark, sf_dir):
    """Exact cosine near-dup pairs (small slice) — the oracle for the LSH
    scale path (operators/similarity.lsh_near_dups)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return (
        dedup.embedding_near_dups(emb, "vec_id", "embedding", threshold=0.25)
        .orderBy("id1", "id2")
    )


# -- rows-only (banding/LSH internals aren't portable ANSI SQL) -------------


@declared(
    "knn_classify",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv, label FROM embeddings),
sims AS (
  SELECT q.qid, c.nid, c.label, list_cosine_similarity(q.qv, c.nv) AS cosine
  FROM c CROSS JOIN q WHERE q.qid <> c.nid),
topk AS (
  SELECT qid, label FROM (
    SELECT qid, label, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
    FROM sims) t
  WHERE rn <= 5),
votes AS (SELECT qid, label, COUNT(*) AS cnt FROM topk GROUP BY qid, label)
SELECT qid, CAST(label AS INT) AS pred FROM (
  SELECT qid, label, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cnt DESC, label) AS rn
  FROM votes) t
WHERE rn = 1 ORDER BY qid""",
)
def knn_classify(spark, sf_dir):
    """k-NN majority vote over embeddings — the classifier the reference's
    database.py:7 docstring promises but never implements
    (operators/similarity.knn_classify)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return similarity.knn_classify(q, emb, "vec_id", "embedding", "label", k=5).orderBy("qid")


@declared("dedup_minhash")
def dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup pairs (shingle -> 64-hash signature -> banded
    buckets -> exact-Jaccard verify). Verified against ngram_pairs ground
    truth in tests (recall on high-similarity pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_dedup(docs, "doc_id", "text", threshold=0.3).orderBy("id1", "id2")


@declared("cross_dedup")
def cross_dedup(spark, sf_dir):
    """Cross-corpus near-dup: the even-id half of documents is indexed
    once (dedup.build_band_index), the odd-id half is checked against it
    (dedup.near_dups_against) — the 'dedup the new crawl against history'
    op, with per-batch cost scaling in the batch, not the history.
    Rows-only (minhash banding has no ANSI-SQL form); equivalence with
    the self-join minhash_dedup restricted to cross pairs is pinned in
    tests/test_dup_clusters.py."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    buckets, shingles = dedup.build_band_index(
        corpus, "doc_id", "text", cache=True
    )
    return dedup.near_dups_against(
        batch, buckets, shingles, "doc_id", "text", threshold=0.3
    ).orderBy("new_id", "corpus_id")


@declared("dedup_simhash")
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (64-bit signature, 8-bit chunk banding,
    Hamming verify)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_dedup(docs, "doc_id", "text", max_hamming=16).orderBy("id1", "id2")


@declared(
    "sentence_split",
    r"""WITH d AS (
  SELECT doc_id,
         regexp_replace(text, '(\w+) (\w+) (\w+) ', '\1 \2 \3. ', 'g') AS text
  FROM documents WHERE doc_id < 200),
s AS (
  SELECT doc_id,
         string_split(regexp_replace(text, '([.!?])\s+', '\1' || chr(1), 'g'),
                      chr(1)) AS parts
  FROM d)
SELECT doc_id, CAST(t.i - 1 AS INT) AS sentence_idx, s.parts[t.i] AS sentence
FROM s, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(s.parts))) AS i) t
WHERE LEN(TRIM(s.parts[t.i])) > 0
ORDER BY doc_id, sentence_idx""",
)
def sentence_split(spark, sf_dir):
    """One row per sentence with position (posexplode of a
    terminator-keeping split). The synthetic documents carry no sentence
    terminators, so the entry first derives them deterministically
    (every third word ends a sentence — the same regexp_replace on both
    engines); the split itself is then genuinely exercised (~3.5k
    sentences at sf0.01) and oracle-checked: DuckDB lacks the split
    pattern's lookbehind, so the oracle emulates it by rewriting
    'terminator + whitespace' to a sentinel char and splitting on that
    (round-6: upgraded from rows-only)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    docs = docs.withColumn(
        "text", F.regexp_replace("text", r"(\w+) (\w+) (\w+) ", "$1 $2 $3. ")
    )
    return text.split_sentences(docs, "doc_id", "text").orderBy("doc_id", "sentence_idx")


@declared("chunk_fingerprints")
def chunk_fingerprints(spark, sf_dir):
    """Content-defined chunk fingerprints (Rabin rolling hash) via the
    Python UDTF surface — the partial-overlap dedup primitive; rows-only
    (a per-byte state machine has no ANSI-SQL form). Deterministic:
    crc32 chunk hashes, content-defined boundaries."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return text.chunk_fingerprints(docs, "doc_id", "text")


@declared(
    "quality_scores",
    f"""WITH t AS (SELECT doc_id,
  CAST(LEN({_TOKS}) AS DOUBLE) AS n_tok,
  LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) AS n_nows,
  LEN(LIST_INTERSECT(LIST_DISTINCT({_TOKS}), {_STOP_SQL["en"]})) AS stop_hits
FROM documents)
SELECT doc_id, ROUND(
  0.4 * (CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.3 END)
+ 0.3 * (CASE WHEN n_nows / n_tok BETWEEN 2.5 AND 12 THEN 1.0 ELSE 0.4 END)
+ 0.3 * LEAST(stop_hits / 3.0, 1.0), 4) AS quality
FROM t ORDER BY doc_id""",
)
def quality_scores(spark, sf_dir):
    """Heuristic document quality in [0,1] (operators/text.quality_score);
    the oracle mirrors the exact band/blend expression."""
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_score(docs, "doc_id", "text").orderBy("doc_id")


@declared("ann_ivf")
def ann_ivf(spark, sf_dir):
    """IVF approximate top-k (coarse k-means cells + nprobe search);
    recall measured against similarity_topk in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") <= 2)
    return similarity.ivf_topk(q, emb, "vec_id", "embedding", k=5, cells=8, nprobe=3).orderBy(
        "qid", "rk"
    )


@declared("ann_ivfpq")
def ann_ivfpq(spark, sf_dir):
    """IVF-PQ approximate top-k (coarse cells + product-quantized
    residuals + ADC scan + exact re-rank) — the compressed-memory ANN
    scale path (operators/similarity.ivfpq_topk). Rows-only:
    approximate by design; recall-vs-IVF-flat and m-bytes-per-vector
    asserted in tests/test_llmdata.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") <= 2)
    return similarity.ivfpq_topk(
        q, emb, "vec_id", "embedding", k=5, cells=8, nprobe=3, m=8, refine=8
    ).orderBy("qid", "rk")


@declared("ann_ivfpq_index")
def ann_ivfpq_index(spark, sf_dir):
    """Persisted IVF-PQ index round-trip: build + save (cell-partitioned
    codes parquet + model row), load, then SERVE a query batch via
    ivfpq_search — the LUT/ADC/re-rank pipeline only, with the probed-cell
    filter pruning the partitioned codes scan. Deterministic (seeded
    build), rows-only: the index geometry has no ANSI-SQL form. Identity
    with the one-shot ivfpq_topk and the no-retraining guarantee are
    pinned in tests/test_llmdata.py."""
    import atexit
    import os
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    model, encoded = similarity.ivfpq_build(emb, cells=8, m=8)
    # Fixed per-process path: ivfpq_save overwrites, so repeated runs in
    # one process reuse a single directory instead of leaking a full
    # encoded-corpus copy per invocation (round-5 ADVICE). Keyed by pid —
    # driver and judge runs execute concurrently — and removed at exit.
    root = os.path.join(tempfile.gettempdir(), f"gdc_ivfpq_index_{os.getpid()}")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    path = os.path.join(root, "index")
    similarity.ivfpq_save(model, encoded, path)
    loaded_model, loaded_codes = similarity.ivfpq_load(spark, path)
    q = emb.filter(F.col("vec_id") <= 2)
    return similarity.ivfpq_search(
        q, loaded_model, loaded_codes, emb, k=5, nprobe=3, refine=8
    ).orderBy("qid", "rk")


@declared("ann_ivfpq_append")
def ann_ivfpq_append(spark, sf_dir):
    """Incremental index maintenance (similarity.ivfpq_append): build +
    save on the even-id half of the corpus, append the odd-id half under
    the FROZEN quantizers (FAISS `add` — one distributed encode pass,
    new files inside existing cell=... directories, model untouched),
    then serve a query batch spanning both halves off the loaded index.
    Deterministic (seeded build), rows-only like ann_ivfpq_index; exact
    append==build-time-encode equality and the no-retraining poison pin
    are in tests/test_llmdata.py."""
    import atexit
    import os
    import shutil
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    model, encoded = similarity.ivfpq_build(first, cells=8, m=8)
    root = os.path.join(
        tempfile.gettempdir(), f"gdc_ivfpq_append_{os.getpid()}"
    )
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    path = os.path.join(root, "index")
    # overwrite semantics for repeat runs: clear only the codes dir (the
    # append below would otherwise double rows on the second invocation)
    shutil.rmtree(root, ignore_errors=True)
    similarity.ivfpq_save(model, encoded, path)
    similarity.ivfpq_append(model, second, path)
    loaded_model, loaded_codes = similarity.ivfpq_load(spark, path)
    q = emb.filter(F.col("vec_id") <= 2)
    return similarity.ivfpq_search(
        q, loaded_model, loaded_codes, emb, k=5, nprobe=3, refine=8
    ).orderBy("qid", "rk")


@declared("ann_lsh")
def ann_lsh(spark, sf_dir):
    """Random-projection LSH near-dup pairs over embeddings (MLlib);
    approximate — recall vs embedding_near_dups asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return similarity.lsh_near_dups(emb, "vec_id", "embedding", threshold=0.25).orderBy(
        "id1", "id2"
    )


@declared("dup_clusters")
def dup_clusters(spark, sf_dir):
    """Near-dup clusters over documents: MinHash+LSH pairs -> connected
    components -> canonical survivor per cluster
    (operators/dedup.near_dup_clusters). Rows-only: the component step is
    iterative (no ANSI-SQL form); pinned in tests against a driver-side
    union-find over the same verified pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.near_dup_clusters(docs, "doc_id", "text", threshold=0.3).orderBy("doc_id")


@declared(
    "dup_clusters_exact",
    """WITH RECURSIVE
d AS (SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\\s+') AS w
      FROM documents WHERE doc_id < 100),
sh AS (SELECT doc_id,
              LIST_DISTINCT(LIST_TRANSFORM(
                  GENERATE_SERIES(1, GREATEST(LEN(w) - 2, 1)),
                  i -> ARRAY_TO_STRING(w[i:i+2], ' '))) AS shingles
       FROM d),
sizes AS (SELECT doc_id, LEN(shingles) AS sz FROM sh),
inv AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
pairs AS (
  SELECT id1, id2 FROM common
  JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
  WHERE common / CAST(s1.sz + s2.sz - common AS DOUBLE) >= 0.05),
edges AS (SELECT id1 AS a, id2 AS b FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
comp AS (SELECT node AS doc_id, MIN(lbl) AS canonical_id
         FROM reach GROUP BY node),
csz AS (SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM comp GROUP BY canonical_id)
SELECT c.doc_id, c.canonical_id, s.cluster_size,
       c.doc_id = c.canonical_id AS keep
FROM comp c JOIN csz s USING (canonical_id) ORDER BY c.doc_id""",
)
def dup_clusters_exact(spark, sf_dir):
    """Duplicate clustering with a fully deterministic pair source
    (round-6): EXACT word-3-gram Jaccard pairs (the ngram_pairs frame)
    -> iterative min-label connected components -> canonical survivor.
    Unlike dup_clusters (MinHash pairs, rows-only by necessity), every
    stage here is oracle-expressible: DuckDB rebuilds the same pairs and
    closes them transitively with a recursive CTE — so the driver gate
    now scores the COMPONENT machinery itself, not just its inputs."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.05)
    return dedup.cluster_pairs(docs, "doc_id", pairs).orderBy("doc_id")


@declared("cardinality_sketch")
def cardinality_sketch(spark, sf_dir):
    """Distinct-user cardinality per event type via HLL sketches
    (Apache DataSketches hll_sketch_agg / hll_sketch_estimate) — the
    mergeable bounded-memory scale path for COUNT DISTINCT on 100 TB
    (sketches union across partitions; register-max merge is
    order-independent, so the estimate is deterministic). Rows-only:
    approximate by design (exactness asserted within rel-error in tests,
    q22 is the exact declared form)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users"),
        )
        .orderBy("event_type")
    )


@declared("topk_sketch")
def topk_sketch(spark, sf_dir):
    """Approximate heavy hitters (approx_top_k sketch aggregate) — the
    one-pass bounded-memory frequent-items path; exploded to one row per
    item. Rows-only: sketch counts are approximate by contract (vs exact
    q47-style groupBy count, asserted close in tests)."""
    e = load_table(spark, sf_dir, "events")
    return spark.sql(
        """SELECT t.item AS event_type, CAST(t.count AS BIGINT) AS approx_cnt
FROM (SELECT EXPLODE(approx_top_k(event_type, 3)) AS t FROM {e}) s
ORDER BY approx_cnt DESC, event_type""",
        e=e,
    )


_PIPE_LANG_CASE = " ".join(
    f"WHEN s_{lang} = gmax THEN '{lang}'" for lang in text.STOPWORD_PROFILES
)


@declared(
    "pipeline_corpus",
    f"""WITH kept AS (SELECT MIN(doc_id) AS keep FROM documents GROUP BY md5(text)),
d AS (SELECT doc_id, text FROM documents JOIN kept ON doc_id = keep),
t AS (SELECT doc_id,
  CAST(LEN({_TOKS}) AS DOUBLE) AS n_tok,
  LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) AS n_nows,
  LEN(LIST_INTERSECT(LIST_DISTINCT({_TOKS}), {_STOP_SQL["en"]})) AS stop_hits,
  {_LANG_SCORES_SQL},
  CAST(LIST_SUM(LIST_TRANSFORM(regexp_extract_all(text, '[A-Za-z]+'),
                               s -> CEIL(LENGTH(s)/4.0)))
       + LEN(regexp_extract_all(text, '[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
FROM d),
g AS (SELECT *, GREATEST(s_en, s_de, s_fr, s_es, s_zh) AS gmax FROM t),
s AS (SELECT doc_id, bpe_tokens,
  ROUND(0.4 * (CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.3 END)
      + 0.3 * (CASE WHEN n_nows / n_tok BETWEEN 2.5 AND 12 THEN 1.0 ELSE 0.4 END)
      + 0.3 * LEAST(stop_hits / 3.0, 1.0), 4) AS quality,
  CASE WHEN gmax = 0 THEN 'und' {_PIPE_LANG_CASE} ELSE 'und' END AS lang_pred
FROM g)
SELECT doc_id, quality, lang_pred, bpe_tokens FROM s
WHERE quality >= 0.7 AND lang_pred = 'en' ORDER BY doc_id""",
)
def pipeline_corpus(spark, sf_dir):
    """End-to-end corpus cleaning (operators/text.clean_corpus): exact
    dedup -> quality score -> language ID -> BPE-ish token budget,
    filtered to quality >= 0.7 English docs — the composed pretraining
    data pass. One scan; all metrics in a single codegen projection."""
    docs = load_table(spark, sf_dir, "documents")
    return text.clean_corpus(docs, "doc_id", "text", min_quality=0.7, lang="en").orderBy(
        "doc_id"
    )


_GRAMS3 = (
    f"LIST_TRANSFORM(GENERATE_SERIES(1, LEN({_TOKS}) - 2), "
    f"i -> ARRAY_TO_STRING(({_TOKS})[i:i+2], ' '))"
)


@declared(
    "repetition_stats",
    f"""SELECT doc_id,
  CAST(LEN({_GRAMS3}) AS BIGINT) AS n_grams,
  CASE WHEN LEN({_GRAMS3}) > 0
       THEN ROUND(1 - LEN(LIST_DISTINCT({_GRAMS3})) / CAST(LEN({_GRAMS3}) AS DOUBLE), 4)
       ELSE 0.0 END AS dup_ngram_ratio
FROM documents ORDER BY doc_id""",
)
def repetition_stats(spark, sf_dir):
    """Gopher-style duplicated-3-gram ratio per document
    (operators/text.repetition_stats) — the intra-document repetition
    quality rule; one codegen projection, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_stats(docs, "doc_id", "text", n=3).orderBy("doc_id")


@declared(
    "value_quota",
    """SELECT user_id, event_id, ROUND(spent, 6) AS spent
FROM (SELECT user_id, event_id,
             SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS spent
      FROM events)
WHERE spent <= 2000.0 ORDER BY user_id, event_id""",
)
def value_quota(spark, sf_dir):
    """Per-user value-budget cutoff, batch form
    (streaming/stateful.value_quota_batch): keep events while the running
    total of `value` in (ts, event_id) order stays under the cap — one
    partitioned window cumsum, no shuffle beyond the user_id partition.
    The streaming twin (applyInPandasWithState, one double of state per
    user) is pinned replay==batch in tests/test_streaming.py."""
    from graph_db_clustering_spark.streaming.stateful import value_quota_batch

    e = load_table(spark, sf_dir, "events")
    return (
        value_quota_batch(e, 2000.0)
        .select("user_id", "event_id", F.round("spent", 6).alias("spent"))
        .orderBy("user_id", "event_id")
    )


@declared("semantic_dedup")
def semantic_dedup_q(spark, sf_dir):
    """SemDeDup-style semantic dedup over embeddings
    (operators/dedup.semantic_dedup, arXiv:2303.09540): k-means cluster,
    within-cluster cosine pairs at 0.95, connected components, canonical
    survivor. Rows-only: the clustering is iterative (no ANSI-SQL form);
    the planted-geometry ground truth is pinned in
    tests/test_dup_clusters.py."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return dedup.semantic_dedup(emb, k=8, threshold=0.95, max_iter=10).orderBy(
        "vec_id"
    )


@declared(
    "chunk_sentences",
    r"""WITH d AS (
  SELECT doc_id, regexp_replace(text, '(\w+) (\w+) (\w+) ', '\1 \2 \3. ', 'g') AS text
  FROM documents WHERE doc_id < 200),
s AS (
  SELECT doc_id,
         string_split(regexp_replace(text, '([.!?])\s+', '\1' || chr(1), 'g'),
                      chr(1)) AS parts
  FROM d),
sent AS (
  SELECT doc_id, t.i - 1 AS pos, s.parts[t.i] AS sentence
  FROM s, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(s.parts))) AS i) t
  WHERE LEN(TRIM(s.parts[t.i])) > 0),
ch AS (
  SELECT doc_id, CAST(pos // 2 AS INT) AS chunk_idx,
         STRING_AGG(sentence, ' ' ORDER BY pos) AS chunk_text
  FROM sent GROUP BY doc_id, pos // 2)
SELECT doc_id, chunk_idx, chunk_text,
       CAST(LEN(string_split_regex(TRIM(chunk_text), '\s+')) AS INT) AS n_tokens
FROM ch ORDER BY doc_id, chunk_idx""",
)
def chunk_sentences(spark, sf_dir):
    """RAG-prep sentence chunking (operators/text.chunk_by_sentences):
    greedy token-budget packing of consecutive sentences as ONE
    F.aggregate fold per document — no UDF, no extra shuffle. Over the
    derived-terminator corpus every sentence is exactly 3 tokens (the
    last 1-3), so greedy packing at budget 6 has a closed form — chunk =
    consecutive sentence PAIRS — which DuckDB verifies independently;
    the general greedy behavior (oversized sentences, ragged budgets) is
    pinned in tests/test_operators_misc.py."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    docs = docs.withColumn(
        "text", F.regexp_replace("text", r"(\w+) (\w+) (\w+) ", "$1 $2 $3. ")
    )
    return text.chunk_by_sentences(docs, "doc_id", "text", max_tokens=6).orderBy(
        "doc_id", "chunk_idx"
    )


@declared(
    "bm25_scores",
    r"""WITH base AS (
  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents),
stats AS (SELECT COUNT(*) AS n_docs, AVG(LEN(toks)) AS avgdl FROM base),
posting AS (
  SELECT doc_id, LEN(toks) AS dl, t.term, COUNT(*) AS tf
  FROM base, LATERAL (SELECT UNNEST(toks) AS term) t
  WHERE t.term IN ('spark', 'shuffle', 'window')
  GROUP BY doc_id, LEN(toks), t.term),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM posting GROUP BY term)
SELECT doc_id,
       ROUND(SUM(LN(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                 * (p.tf * 2.2)
                 / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / s.avgdl))), 6)
           AS score
FROM posting p JOIN dfreq f USING (term) CROSS JOIN stats s
GROUP BY doc_id ORDER BY doc_id""",
)
def bm25_scores_q(spark, sf_dir):
    """BM25 relevance of every document to the query 'spark shuffle
    window' (operators/text.bm25_scores) — the lexical-retrieval half of
    a RAG stack (the ANN path is the other). The explode is filtered to
    the query's terms BEFORE aggregation, so only those postings are
    counted; per-term document frequencies broadcast back."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.bm25_scores(docs, "doc_id", "text", "spark shuffle window")
    return out.select("doc_id", F.round("score", 6).alias("score")).orderBy("doc_id")


@declared(
    "unigram_logprob",
    r"""WITH toks AS (
  SELECT doc_id, t.term
  FROM (SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS w
        FROM documents) d,
       LATERAL (SELECT UNNEST(w) AS term) t),
lm AS (SELECT term, COUNT(*) AS freq FROM toks GROUP BY term),
tot AS (SELECT SUM(freq) AS total, COUNT(*) AS vocab FROM lm)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(LN((l.freq + 1.0) / (s.total + 1.0 * s.vocab))), 6)
           AS avg_logprob
FROM toks t JOIN lm l USING (term) CROSS JOIN tot s
GROUP BY doc_id ORDER BY doc_id""",
)
def unigram_logprob_q(spark, sf_dir):
    """Unigram-LM mean token log-probability per document
    (operators/text.unigram_logprob_scores) — the cheap CCNet-style
    perplexity quality signal: the corpus trains its own add-1 unigram
    model, low-tail documents are the gibberish/wrong-language cut."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.unigram_logprob_scores(docs, "doc_id", "text")
    return out.select(
        "doc_id", "n_tokens", F.round("avg_logprob", 6).alias("avg_logprob")
    ).orderBy("doc_id")


@declared(
    "hybrid_rrf",
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id <= 2),
c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
cos AS (
  SELECT qid, nid,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY list_cosine_similarity(qv, nv) DESC, nid) AS INT) AS rank
  FROM q CROSS JOIN c WHERE qid <> nid),
euc AS (
  SELECT qid, nid,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY -list_distance(qv, nv) DESC, nid) AS INT) AS rank
  FROM q CROSS JOIN c WHERE qid <> nid),
u AS (SELECT qid, nid, rank FROM cos WHERE rank <= 10
      UNION ALL SELECT qid, nid, rank FROM euc WHERE rank <= 10)
SELECT qid, nid, ROUND(SUM(1.0 / (60 + rank)), 6) AS rrf_score
FROM u GROUP BY qid, nid ORDER BY qid, nid""",
)
def hybrid_rrf(spark, sf_dir):
    """Hybrid-retrieval fusion (operators/similarity.rrf_fuse,
    Cormack et al. 2009): the cosine top-10 and the (negative-)euclidean
    top-10 for the same query vectors fuse by reciprocal rank — the
    score-free combiner a production RAG stack uses across BM25 + ANN
    systems with incomparable score scales. Rankings differ because the
    embeddings are NOT unit-norm (cosine ignores magnitude, L2 does
    not), so the fusion is non-trivial and the oracle recomputes both
    rankings + the RRF sum in DuckDB."""
    from graph_db_clustering_spark.operators.similarity import (
        brute_force_topk,
        rrf_fuse,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") <= 2)
    cos = brute_force_topk(q, emb, "vec_id", "embedding", k=10).select(
        "qid", "nid", F.col("cosine").alias("score")
    )
    qv = q.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("nv"))
    dist2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("nv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("score"), "nid")
    euc = (
        c.crossJoin(F.broadcast(qv))
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("score", -dist2)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("qid", "nid", "score")
    )
    return rrf_fuse([cos, euc], k=60).select(
        "qid", "nid", F.round("rrf_score", 6).alias("rrf_score")
    ).orderBy("qid", "nid")


# DuckDB-side whitespace normalizer matching the Spark side's explicit
# class (Java \s and RE2 \s disagree on \x0b, so neither side uses \s)
_WS_NORM = "trim(regexp_replace({col}, '[ \\t\\n\\r\\f][ \\t\\n\\r\\f]*', ' ', 'g'))"


def _norm_ws(c):
    return F.trim(F.regexp_replace(c, r"[ \t\n\r\f]+", " "))


def _wrap_html(t):
    """Escape + wrap a text column as the deterministic HTML page the
    synthetic WARC builder emits (sources/warc.synthetic_warc_from_documents)
    — the extraction oracle inverts this exactly."""
    esc = F.replace(t, F.lit("&"), F.lit("&amp;"))
    esc = F.replace(esc, F.lit("<"), F.lit("&lt;"))
    esc = F.replace(esc, F.lit(">"), F.lit("&gt;"))
    return F.concat(
        F.lit(
            "<html><head><title>d</title><script>var x=1;</script>"
            "</head><body><!-- boiler --><p>"
        ),
        esc,
        F.lit("</p></body></html>"),
    )


@declared(
    "html_extract",
    "SELECT doc_id, md5("
    + _WS_NORM.format(col="text")
    + ") AS text_md5 FROM documents ORDER BY doc_id",
)
def html_extract(spark, sf_dir):
    """HTML -> visible-text extraction (operators/text.html_text_expr):
    each document is escaped and wrapped into a full HTML page (script,
    comment, block tags), extracted back by the codegen regexp chain, and
    md5'd after whitespace normalization. The oracle hashes the ORIGINAL
    text — extraction must be an exact inverse of the wrapper, so the
    check is against ground truth, not a second regex engine."""
    docs = load_table(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id", _wrap_html(F.col("text")).alias("html")
    )
    extracted = text.extract_html_text(pages, "doc_id", "html")
    return extracted.select(
        "doc_id", F.md5(_norm_ws(F.col("text"))).alias("text_md5")
    ).orderBy("doc_id")


@declared(
    "warc_ingest",
    "SELECT doc_id, CAST(200 AS INT) AS http_status, md5("
    + _WS_NORM.format(col="text")
    + ") AS text_md5 FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id",
)
def warc_ingest(spark, sf_dir):
    """The Common Crawl ingest path end to end (sources/warc): documents
    become gzip-member-per-record .warc.gz shard blobs executor-side,
    the WARC parser splits records + HTTP heads in mapInPandas, and the
    HTML bodies round-trip through html_text_expr back to the original
    text — checked by md5 against the source table (ground truth, the
    html_extract pattern). doc id recovered from WARC-Target-URI."""
    from graph_db_clustering_spark.sources import warc

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    shards = warc.synthetic_warc_from_documents(docs, "doc_id", "text")
    recs = warc.parse_warc_records(shards, record_types=("response",))
    pages = recs.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "http_status",
        F.col("payload").cast("string").alias("html"),
    )
    return pages.select(
        "doc_id",
        "http_status",
        F.md5(_norm_ws(text.html_text_expr(F.col("html")))).alias("text_md5"),
    ).orderBy("doc_id")


@declared(
    "bpe_tokens",
    "SELECT doc_id, md5(regexp_replace(text, "
    "'[ \\t\\n\\r\\f][ \\t\\n\\r\\f]*', '', 'g')) AS tok_md5, "
    "CAST(length(regexp_replace(text, '[ \\t\\n\\r\\f][ \\t\\n\\r\\f]*', "
    "'', 'g')) AS INT) AS n_bytes "
    "FROM documents ORDER BY doc_id",
)
def bpe_tokens(spark, sf_dir):
    """Trained BPE tokenization (text.bpe_train -> bpe_encode): the
    corpus trains its own merge table (one distributed word-count
    shuffle; merge learning on the bounded top-words table), then every
    document tokenizes in an Arrow batch. Oracle is GROUND TRUTH
    losslessness, not a reimplementation: concatenated tokens must
    byte-equal the whitespace-stripped text (md5 + length per doc) —
    any dropped/duplicated/invented token breaks the hash."""
    docs = load_table(spark, sf_dir, "documents")
    merges = text.bpe_train(docs, "text", n_merges=50)
    enc = text.bpe_encode(docs, "doc_id", "text", merges)
    return enc.select(
        F.col("id").alias("doc_id"),
        F.md5(F.concat_ws("", "tokens")).alias("tok_md5"),
        F.length(F.concat_ws("", "tokens")).alias("n_bytes"),
    ).orderBy("doc_id")


@declared(
    "url_dedup",
    """SELECT MIN(doc_id) AS keep_id,
       'http://example-' || (doc_id % 7) || '.com/p/' || (doc_id % 50)
         || '?id=' || (doc_id % 25) AS canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_variants
FROM documents GROUP BY 2 ORDER BY keep_id""",
)
def url_dedup(spark, sf_dir):
    """Crawl-pipeline URL dedup (operators/web): each document gets a
    deterministically messy URL (uppercase host, :80 default port,
    tracking params, fragment); canonicalization + the min(struct)
    hash-agg collapse spelling variants. The oracle states the expected
    CANONICAL FORM in closed form — ground truth for the whole regexp
    chain, not a second implementation."""
    from graph_db_clustering_spark.operators import web

    docs = load_table(spark, sf_dir, "documents")
    mod = lambda n: (F.col("doc_id") % n).cast("string")  # noqa: E731
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://Example-"), mod(7), F.lit(".COM:80/p/"), mod(50),
            F.lit("?utm_source=x&id="), mod(25), F.lit("&utm_campaign=y#frag"),
        ).alias("url"),
    )
    return web.url_dedup(messy, "doc_id", "url").orderBy("keep_id")


_GOPHER_STOPS = "[" + ", ".join(f"'{w}'" for w in text.GOPHER_STOPWORDS) + "]"
_GOPHER_FLAGS_SQL = f"""
  COALESCE(LEN({_TOKS}) < 50 OR LEN({_TOKS}) > 100000, FALSE) AS g_wc,
  COALESCE(LIST_SUM(LIST_TRANSFORM({_TOKS}, s -> LENGTH(s)))
             / CAST(LEN({_TOKS}) AS DOUBLE) < 3
           OR LIST_SUM(LIST_TRANSFORM({_TOKS}, s -> LENGTH(s)))
             / CAST(LEN({_TOKS}) AS DOUBLE) > 10, FALSE) AS g_mwl,
  COALESCE((LENGTH(text) - LENGTH(REPLACE(text, '#', ''))
            + LEN(regexp_extract_all(text, '\\.\\.\\.')))
             / CAST(LEN({_TOKS}) AS DOUBLE) > 0.1, FALSE) AS g_symbol,
  COALESCE(LEN(LIST_FILTER({_TOKS}, s -> regexp_matches(s, '[A-Za-z]')))
             / CAST(LEN({_TOKS}) AS DOUBLE) < 0.8, FALSE) AS g_alpha,
  COALESCE(LEN(LIST_FILTER(string_split(text, chr(10)),
                           s -> regexp_matches(TRIM(s), '^[-*]')))
             / CAST(LEN(string_split(text, chr(10))) AS DOUBLE) > 0.9,
           FALSE) AS g_bullet,
  COALESCE(LEN(LIST_FILTER(string_split(text, chr(10)),
                           s -> regexp_matches(s, '\\.\\.\\.$')))
             / CAST(LEN(string_split(text, chr(10))) AS DOUBLE) > 0.3,
           FALSE) AS g_ellipsis,
  COALESCE(LEN(LIST_INTERSECT(LIST_DISTINCT({_TOKS}), {_GOPHER_STOPS})) < 2,
           FALSE) AS g_stop
"""


@declared(
    "gopher_rules",
    f"""WITH f AS (SELECT doc_id, {_GOPHER_FLAGS_SQL} FROM documents)
SELECT *, NOT (g_wc OR g_mwl OR g_symbol OR g_alpha OR g_bullet
               OR g_ellipsis OR g_stop) AS kept
FROM f ORDER BY doc_id""",
)
def gopher_rules(spark, sf_dir):
    """Gopher quality-rule flags (operators/text.gopher_rule_flags, Rae
    et al. 2021 §A1.1): per-rule booleans + kept verdict, one codegen
    projection — the c4_rules pattern for the second canonical rule
    set."""
    docs = load_table(spark, sf_dir, "documents")
    return text.gopher_rule_flags(docs, "doc_id", "text").orderBy("doc_id")


@declared(
    "dedup_lines",
    "SELECT doc_id, md5(text) AS text_md5 FROM documents ORDER BY doc_id",
)
def dedup_lines(spark, sf_dir):
    """Intra-document line dedup (operators/text.dedup_lines): each
    document's text is tripled into three identical lines; removing
    repeated lines first-occurrence-order must recover EXACTLY the
    original text (ground-truth md5 oracle — corpus text contains no
    newlines, asserted by construction of the testdata)."""
    docs = load_table(spark, sf_dir, "documents")
    tripled = docs.select(
        "doc_id",
        F.concat_ws("\n", "text", "text", "text").alias("text"),
    )
    out = text.dedup_lines(tripled, "doc_id", "text")
    return out.select("doc_id", F.md5("text").alias("text_md5")).orderBy(
        "doc_id"
    )


@declared(
    "tfidf_scores",
    f"""WITH t AS (SELECT doc_id, UNNEST({_TOKS}) AS term FROM documents),
tt AS (SELECT * FROM t WHERE term <> ''),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tt GROUP BY term
          ORDER BY df DESC, term LIMIT 100),
idf AS (SELECT term,
               LN((1.0 + (SELECT COUNT(*) FROM documents)) / (1.0 + df)) + 1
                 AS idf
        FROM dfreq),
tf AS (SELECT doc_id, tt.term, idf, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tt JOIN idf ON tt.term = idf.term GROUP BY doc_id, tt.term, idf)
SELECT doc_id, term, tf, ROUND(tf * idf, 6) AS tfidf
FROM tf ORDER BY doc_id, term""",
)
def tfidf_scores_q(spark, sf_dir):
    """TF-IDF over the deterministic top-100-df vocabulary
    (operators/text.tfidf_scores, sklearn's smoothed idf): one
    (doc, term) row per vocabulary posting. The oracle recomputes the
    same vocabulary selection + formula in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_scores(docs, "doc_id", "text", vocab_size=100).orderBy(
        "doc_id", "term"
    )


@declared(
    "unicode_nfc",
    "SELECT doc_id, md5(nfc_normalize(text || ' cafe' || chr(769))) AS t_md5 "
    "FROM documents ORDER BY doc_id",
)
def unicode_nfc(spark, sf_dir):
    """Unicode NFC normalization (text.normalize_unicode): each document
    gains a decomposed trailing 'e'+COMBINING ACUTE, which NFC must
    compose to U+00E9. Checked against DuckDB's INDEPENDENT
    nfc_normalize implementation (utf8proc) — two unrelated
    normalization engines must agree byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        # DECOMPOSED on the Spark side ('e' + U+0301): normalize_unicode
        # must actually compose, not pass precomposed input through
        F.concat("text", F.lit(" cafe\u0301")).alias("text"),
    )
    out = text.normalize_unicode(docs, "doc_id", "text", form="NFC")
    return out.select("doc_id", F.md5("text").alias("t_md5")).orderBy("doc_id")


@declared(
    "avro_roundtrip",
    "SELECT doc_id, lang, md5(text) AS text_md5 FROM documents "
    "WHERE doc_id % 4 = 0 ORDER BY doc_id",
)
def avro_roundtrip(spark, sf_dir):
    """The Avro source end to end (sources/avro): documents serialize
    into object-container blobs executor-side (deflate codec, nullable
    lang union) and decode back through the same Arrow-batched reader
    files.read_avro falls back to — ground-truth oracle: ids, lang, and
    text md5 must survive the container byte-exactly."""
    import pandas as pd
    from pyspark.sql import types as T

    from graph_db_clustering_spark.sources import avro as pyavro

    schema = {
        "type": "record",
        "name": "Doc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "lang", "type": ["null", "string"]},
            {"name": "text", "type": "string"},
        ],
    }
    fields = pyavro.parse_schema(schema)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 0
    ).select("doc_id", "lang", "text", (F.pmod(F.col("doc_id"), F.lit(8))).alias("shard"))

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        rows = [
            {"doc_id": int(r.doc_id), "lang": r.lang, "text": r.text}
            for r in pdf.itertuples()
        ]
        return pd.DataFrame(
            {"content": [bytearray(pyavro.encode_container(schema, rows))]}
        )

    blobs = docs.repartition("shard").groupBy("shard").applyInPandas(
        build, T.StructType([T.StructField("content", T.BinaryType())])
    )
    back = pyavro.parse_avro_blobs(blobs, fields)
    return back.select(
        "doc_id", "lang", F.md5("text").alias("text_md5")
    ).orderBy("doc_id")


@declared(
    "avro_nested",
    "SELECT doc_id, lang, CAST(LENGTH(text) AS BIGINT) AS nchars, "
    "CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words, "
    "STRING_SPLIT(text, ' ')[1] AS first_word, "
    "CASE WHEN (doc_id // 6) % 2 = 0 THEN 'EVEN' ELSE 'ODD' END AS parity, "
    "md5(text) AS digest_hex "
    "FROM documents WHERE doc_id % 6 = 0 ORDER BY doc_id",
)
def avro_nested(spark, sf_dir):
    """Nested Avro complex types end to end (sources/avro, round 7):
    every document serializes into a record carrying a NESTED record
    with a nullable-union field (meta.lang), an array (words), a map
    (freq), an enum (parity) and a fixed(16) (the md5 digest bytes) —
    then decodes back through the Arrow-batched distributed reader into
    native Spark array/map/struct/binary columns. The containers use
    the SNAPPY codec (pyarrow's snappy + the Avro CRC32 trailer), so
    this oracle also proves that whole path. Ground-truth oracle: every
    projected scalar must equal the closed form DuckDB computes
    directly on the source table."""
    import hashlib

    import pandas as pd
    from pyspark.sql import types as T

    from graph_db_clustering_spark.sources import avro as pyavro

    schema = {
        "type": "record",
        "name": "NestedDoc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "meta", "type": {"type": "record", "name": "Meta",
                                      "fields": [
                                          {"name": "lang",
                                           "type": ["null", "string"]},
                                          {"name": "nchars", "type": "long"},
                                      ]}},
            {"name": "words", "type": {"type": "array", "items": "string"}},
            {"name": "freq", "type": {"type": "map", "values": "long"}},
            {"name": "parity", "type": {"type": "enum", "name": "Parity",
                                        "symbols": ["EVEN", "ODD"]}},
            {"name": "digest", "type": {"type": "fixed", "name": "MD5",
                                        "size": 16}},
        ],
    }
    fields = pyavro.parse_schema(schema)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 6 == 0
    ).select(
        "doc_id", "lang", "text",
        F.pmod(F.col("doc_id"), F.lit(8)).alias("shard"),
    )

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for r in pdf.sort_values("doc_id").itertuples():
            text = str(r.text)
            rows.append({
                "doc_id": int(r.doc_id),
                "meta": {"lang": r.lang, "nchars": len(text)},
                "words": text.split(" "),
                "freq": {"chars": len(text), "words": len(text.split(" "))},
                "parity": "EVEN" if (int(r.doc_id) // 6) % 2 == 0 else "ODD",
                "digest": hashlib.md5(text.encode()).digest(),
            })
        return pd.DataFrame(
            {"content": [bytearray(
                pyavro.encode_container(schema, rows, codec="snappy")
            )]}
        )

    blobs = docs.repartition("shard").groupBy("shard").applyInPandas(
        build, T.StructType([T.StructField("content", T.BinaryType())])
    )
    back = pyavro.parse_avro_blobs(blobs, fields)
    return back.select(
        "doc_id",
        F.col("meta.lang").alias("lang"),
        F.element_at("freq", "chars").alias("nchars"),
        F.size("words").cast("long").alias("n_words"),
        F.element_at("words", 1).alias("first_word"),
        "parity",
        F.lower(F.hex("digest")).alias("digest_hex"),
    ).orderBy("doc_id")


@declared(
    "pdf_extract",
    "SELECT doc_id, md5(text) AS text_md5 FROM documents "
    "WHERE doc_id % 5 = 0 ORDER BY doc_id",
)
def pdf_extract(spark, sf_dir):
    """PDF text extraction end to end (functions/pdf +
    text.extract_pdf_text): each document becomes a single-page
    Flate-compressed PDF executor-side, and the extractor must invert it
    EXACTLY — md5 against the source table (ground truth, the
    html_extract pattern). Exercises content-stream decompression, Tj
    parsing, and the paren/backslash escaping both directions; every
    other selected document (doc_id % 10 == 0) routes through the
    round-7 CID path instead — Identity-H Type0 font, generated
    subset ToUnicode CMap, hex-CID text — so the driver gate also
    scores the CMap machinery."""
    import pandas as pd
    from pyspark.sql import types as T

    from graph_db_clustering_spark.functions import pdf as pdf_codec

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)

    def build(batches):
        for b in batches:
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "content": [
                        bytearray(pdf_codec.encode(
                            [[str(t)]], cid=(int(d) % 10 == 0)
                        ))
                        for d, t in zip(b["doc_id"], b["text"])
                    ],
                }
            )

    pdfs = docs.select("doc_id", "text").mapInPandas(
        build,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("content", T.BinaryType()),
            ]
        ),
    )
    out = text.extract_pdf_text(pdfs, "doc_id", "content")
    return out.select("doc_id", F.md5("text").alias("text_md5")).orderBy("doc_id")


@declared(
    "extract_document",
    "SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'pdf' ELSE 'html' END AS format, "
    "md5(" + _WS_NORM.format(col="text") + ") AS text_md5 "
    "FROM documents WHERE doc_id % 3 = 1 ORDER BY doc_id",
)
def extract_document_q(spark, sf_dir):
    """Format-sniffing extraction front door (text.extract_document):
    a MIXED corpus — even ids wrapped as Flate PDFs, odd ids as full
    HTML pages — routes by magic per row and every document must come
    back md5-exact after whitespace normalization (ground truth against
    the source table for both branches at once)."""
    import pandas as pd
    from pyspark.sql import types as T

    from graph_db_clustering_spark.functions import pdf as pdf_codec

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 1)

    def build(batches):
        for b in batches:
            ids, blobs = [], []
            for rid, t in zip(b["doc_id"], b["text"]):
                rid = int(rid)
                ids.append(rid)
                if rid % 2 == 0:
                    blobs.append(bytearray(pdf_codec.encode([[str(t)]])))
                else:
                    esc = (str(t).replace("&", "&amp;")
                           .replace("<", "&lt;").replace(">", "&gt;"))
                    blobs.append(bytearray(
                        ("<html><head><script>x=1;</script></head><body><p>"
                         + esc + "</p></body></html>").encode()))
            yield pd.DataFrame({"doc_id": ids, "content": blobs})

    mixed = docs.select("doc_id", "text").mapInPandas(
        build,
        T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]),
    )
    out = text.extract_document(mixed, "doc_id", "content")
    return out.select(
        "doc_id", "format", F.md5(_norm_ws(F.col("text"))).alias("text_md5")
    ).orderBy("doc_id")


@declared(
    "decode_bytes",
    "SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16-le' "
    "ELSE 'latin-1' END AS encoding, md5(text || ' é') AS text_md5 "
    "FROM documents WHERE doc_id % 7 = 0 ORDER BY doc_id",
)
def decode_bytes_q(spark, sf_dir):
    """Charset sniffing (text.decode_bytes) over a MIXED-encoding corpus:
    each document (suffixed with a non-ASCII char so UTF-8 vs Latin-1 is
    decidable) encodes per id as plain UTF-8, BOM'd UTF-16-LE, or
    Latin-1; detection must name the encoding and the decoded text must
    md5-match the source ground truth."""
    import pandas as pd
    from pyspark.sql import types as T

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)

    def build(batches):
        for b in batches:
            ids, blobs = [], []
            for rid, t in zip(b["doc_id"], b["text"]):
                rid = int(rid)
                s = str(t) + " é"
                ids.append(rid)
                if rid % 3 == 0:
                    blobs.append(bytearray(s.encode("utf-8")))
                elif rid % 3 == 1:
                    blobs.append(bytearray(b"\xff\xfe" + s.encode("utf-16-le")))
                else:
                    blobs.append(bytearray(s.encode("latin-1")))
            yield pd.DataFrame({"doc_id": ids, "content": blobs})

    mixed = docs.select("doc_id", "text").mapInPandas(
        build,
        T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]),
    )
    out = text.decode_bytes(mixed, "doc_id", "content")
    return out.select(
        "doc_id", "encoding", F.md5("text").alias("text_md5")
    ).orderBy("doc_id")


@declared(
    "archive_ingest",
    "SELECT doc_id, md5(text) AS text_md5 FROM documents "
    "WHERE doc_id % 6 = 0 ORDER BY doc_id",
)
def archive_ingest(spark, sf_dir):
    """Archive ingestion end to end (sources/archive): documents pack
    into deflated ZIP blobs executor-side (one member per doc, id in the
    member name), the member parser reads them back, and every text must
    md5-match the source table — ground truth through the container."""
    import io
    import zipfile

    import pandas as pd
    from pyspark.sql import types as T

    from graph_db_clustering_spark.sources import archive

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 0)
    sharded = docs.select(
        "doc_id", "text", F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("shard")
    ).repartition("shard")

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            for r in pdf.itertuples():
                zf.writestr(f"doc/{int(r.doc_id)}.txt", str(r.text))
        return pd.DataFrame(
            {
                "path": [f"shard-{int(key[0])}.zip"],
                "content": [bytearray(buf.getvalue())],
            }
        )

    blobs = sharded.groupBy("shard").applyInPandas(
        build,
        T.StructType([
            T.StructField("path", T.StringType()),
            T.StructField("content", T.BinaryType()),
        ]),
    )
    members = archive.parse_archives(blobs, member_suffix=".txt")
    return members.select(
        F.regexp_extract("name", r"doc/(\d+)\.txt", 1).cast("long").alias("doc_id"),
        F.md5(F.col("content").cast("string")).alias("text_md5"),
    ).orderBy("doc_id")


@declared(
    "nb_language",
    f"""WITH tr AS (
  SELECT lang AS label, doc_id, {_TOKS} AS w
  FROM documents WHERE doc_id % 2 = 0),
toks AS (SELECT label, UNNEST(w) AS term FROM tr),
tl AS (SELECT label, term, COUNT(*) AS ctl FROM toks
       WHERE term <> '' GROUP BY label, term),
totals AS (SELECT label, SUM(ctl) AS total_l FROM tl GROUP BY label),
voc AS (SELECT COUNT(DISTINCT term) AS v FROM tl),
pri AS (SELECT lang AS label, COUNT(*) AS n_docs
        FROM documents WHERE doc_id % 2 = 0 GROUP BY lang),
ntot AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 2 = 0),
lab AS (SELECT p.label, LN(p.n_docs / CAST(nt.n AS DOUBLE)) AS logprior,
               LN(1.0 / (t.total_l + voc.v)) AS default_loglik,
               t.total_l, voc.v
        FROM pri p JOIN totals t ON t.label = p.label, ntot nt, voc),
te AS (SELECT doc_id, {_TOKS} AS w
       FROM documents WHERE doc_id % 2 = 1),
dt AS (SELECT doc_id, term, COUNT(*) AS tf
       FROM (SELECT doc_id, UNNEST(w) AS term FROM te)
       WHERE term <> '' AND term IN (SELECT DISTINCT term FROM tl)
       GROUP BY doc_id, term),
scored AS (
  SELECT d.doc_id, l.label,
         SUM(d.tf * COALESCE(LN((x.ctl + 1.0) / (l.total_l + l.v)),
                             l.default_loglik)) AS s
  FROM dt d CROSS JOIN lab l
  LEFT JOIN tl x ON x.term = d.term AND x.label = l.label
  GROUP BY d.doc_id, l.label)
SELECT t.doc_id, l.label, ROUND(l.logprior + COALESCE(s.s, 0), 4) AS logscore
FROM (SELECT DISTINCT doc_id FROM te) t
CROSS JOIN lab l
LEFT JOIN scored s ON s.doc_id = t.doc_id AND s.label = l.label
ORDER BY t.doc_id, l.label""",
)
def nb_language(spark, sf_dir):
    """Multinomial Naive Bayes language classifier trained ON the corpus
    (operators/classify.nb_train / nb_score — round 7): fit add-1
    smoothed per-(lang, term) log-likelihoods on the even-id half of
    documents, score the odd-id half, emit the full (doc, label)
    log-posterior matrix. The oracle recomputes training counts,
    priors, smoothing, OOV drop, and the per-doc sums entirely in SQL —
    the classifier IS the aggregation plan, so the driver gate scores
    the whole model, not a pickled artifact."""
    from graph_db_clustering_spark.operators import classify

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    term_model, label_model = classify.nb_train(train, "doc_id", "text", "lang")
    return (
        classify.nb_score(test, term_model, label_model, "doc_id", "text")
        .select("doc_id", "label", F.round("logscore", 4).alias("logscore"))
        .orderBy("doc_id", "label")
    )


@declared(
    "dsir_weights",
    f"""WITH tgt AS (SELECT text FROM documents
           WHERE source IN ('src0', 'src1', 'src2', 'src3')),
raw AS (SELECT doc_id, text FROM documents
        WHERE source NOT IN ('src0', 'src1', 'src2', 'src3')),
bt AS (SELECT ('0x' || substr(md5(term), 1, 8))::UBIGINT % 1024 AS bucket,
              COUNT(*) AS ct
       FROM (SELECT UNNEST({_TOKS}) AS term FROM tgt)
       WHERE term <> '' GROUP BY 1),
br AS (SELECT ('0x' || substr(md5(term), 1, 8))::UBIGINT % 1024 AS bucket,
              COUNT(*) AS cr
       FROM (SELECT UNNEST({_TOKS}) AS term FROM raw)
       WHERE term <> '' GROUP BY 1),
tt AS (SELECT SUM(ct) AS t FROM bt),
rt AS (SELECT SUM(cr) AS r FROM br),
ratio AS (
  SELECT COALESCE(bt.bucket, br.bucket) AS bucket,
         LN((COALESCE(ct, 0) + 1.0) / (tt.t + 1024.0))
         - LN((COALESCE(cr, 0) + 1.0) / (rt.r + 1024.0)) AS logratio
  FROM bt FULL OUTER JOIN br ON bt.bucket = br.bucket, tt, rt),
db AS (SELECT doc_id,
              ('0x' || substr(md5(term), 1, 8))::UBIGINT % 1024 AS bucket,
              COUNT(*) AS n
       FROM (SELECT doc_id, UNNEST({_TOKS}) AS term FROM raw)
       WHERE term <> '' GROUP BY doc_id, bucket)
SELECT d.doc_id, CAST(SUM(d.n) AS BIGINT) AS n_feats,
       ROUND(SUM(d.n * r.logratio), 4) AS log_weight
FROM db d JOIN ratio r USING (bucket)
GROUP BY d.doc_id ORDER BY d.doc_id""",
)
def dsir_weights(spark, sf_dir):
    """DSIR importance log-weights (operators/classify.dsir_weights,
    Xie et al. 2023 — round 7): target distribution = sources src0-3,
    raw = the rest; hashed-unigram (md5-bucket, 1024) distributions on
    both sides, per-raw-doc weight = sum count * log(p_tgt/p_raw) with
    add-1 smoothing over the bucket space. The md5-prefix bucket hash
    is engine-portable, so the oracle replays the entire pipeline —
    distributions, smoothing, and the per-doc sums — in closed form."""
    from graph_db_clustering_spark.operators import classify

    docs = load_table(spark, sf_dir, "documents")
    srcs = ["src0", "src1", "src2", "src3"]
    target = docs.filter(F.col("source").isin(srcs))
    raw = docs.filter(~F.col("source").isin(srcs))
    return (
        classify.dsir_weights(raw, target, "doc_id", "text", n_buckets=1024)
        .select("doc_id", "n_feats", F.round("log_weight", 4).alias("log_weight"))
        .orderBy("doc_id")
    )


@declared(
    "train_split",
    """SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM (SELECT doc_id, source,
             CASE WHEN substr(md5(source || 'r7'), 1, 8) < 'cccccccc'
                  THEN 'train'
                  WHEN substr(md5(source || 'r7'), 1, 8) < 'e6666666'
                  THEN 'val' ELSE 'test' END AS split
      FROM documents)
GROUP BY split ORDER BY split""",
)
def train_split(spark, sf_dir):
    """Leakage-safe 80/10/10 split keyed on `source`
    (operators/traindata.train_test_split): every document of a source
    lands in the same split — the grouping that keeps near-duplicate
    pages from straddling train and test. The assignment is
    substr(md5(key || salt), 1, 8) against cumulative-weight hex
    thresholds: a pure function of the key, independent of
    partitioning, cluster shape, and engine — DuckDB recomputes the
    identical assignment, which is the point (the published split must
    be reproducible by ANY downstream consumer). Pure codegen
    projection, zero shuffle before the readout aggregate."""
    from graph_db_clustering_spark.operators.traindata import train_test_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        train_test_split(docs, "source", salt="r7")
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .orderBy("split")
    )


@declared(
    "bigram_logprob",
    r"""WITH toks AS (
  SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS w
  FROM documents),
base AS (
  SELECT doc_id, w[t.i - 1] AS prev, w[t.i] AS cur
  FROM toks, LATERAL (SELECT UNNEST(GENERATE_SERIES(2, LEN(w))) AS i) t
  WHERE LEN(w) >= 2),
big AS (SELECT prev, cur, COUNT(*) AS c2 FROM base GROUP BY prev, cur),
ctx AS (SELECT prev, COUNT(*) AS cctx FROM base GROUP BY prev),
uni AS (
  SELECT u.term AS cur, COUNT(*) AS c1
  FROM toks, LATERAL (SELECT UNNEST(w) AS term) u
  GROUP BY u.term),
tot AS (SELECT SUM(c1) AS total, COUNT(*) AS vocab FROM uni)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(LN(0.7 * b.c2 / x.cctx
                    + 0.3 * (u.c1 + 1.0) / (s.total + 1.0 * s.vocab))), 6)
           AS avg_logprob
FROM base JOIN big b USING (prev, cur) JOIN ctx x USING (prev)
     JOIN uni u USING (cur) CROSS JOIN tot s
GROUP BY doc_id ORDER BY doc_id""",
)
def bigram_logprob_q(spark, sf_dir):
    """Interpolated bigram-LM scoring (round 7,
    operators/text.bigram_logprob_scores): P(w|prev) = 0.7 * MLE-bigram
    + 0.3 * add-1-unigram, mean log-prob per document — catches
    real-words-impossible-transitions salad the unigram filter passes.
    Bigram positions are one arrays_zip-of-slices codegen pass; all
    model lookups are term-keyed shuffle joins (a web-scale bigram
    table broadcasts nowhere); only the 1-row (total, vocab) aggregate
    broadcasts. DuckDB retrains the identical model and recomputes the
    identical interpolation."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.bigram_logprob_scores(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round("avg_logprob", 6).alias("avg_logprob"),
    ).orderBy("doc_id")


@declared(
    "embedding_dim_stats",
    """WITH flat AS (SELECT generate_subscripts(embedding, 1) - 1 AS pos,
                     UNNEST(embedding) AS x FROM embeddings)
SELECT pos, ROUND(AVG(x), 6) AS mu, ROUND(STDDEV_SAMP(x), 6) AS sd,
       ROUND(MIN(x), 6) AS lo, ROUND(MAX(x), 6) AS hi
FROM flat GROUP BY pos ORDER BY pos""",
)
def embedding_dim_stats(spark, sf_dir):
    """Per-dimension moments of the embedding corpus (round 8): the
    sanity profile run before PCA/ANN (dead dims, scale skew,
    clipping). posexplode -> one partial-aggregated groupBy(pos); the
    shuffle carries 64 keys regardless of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(F.posexplode("embedding").alias("pos", "x"))
    return (
        flat.groupBy("pos")
        .agg(
            F.round(F.avg("x"), 6).alias("mu"),
            F.round(F.stddev_samp("x"), 6).alias("sd"),
            F.round(F.min("x"), 6).alias("lo"),
            F.round(F.max("x"), 6).alias("hi"),
        )
        .orderBy("pos")
    )


@declared("pca_embed")  # linear algebra + eigh: not ANSI-SQL-expressible
def pca_embed(spark, sf_dir):
    """Distributed PCA (round 8, operators/stats.pca_fit/pca_transform):
    project every embedding onto the top-4 principal components. The fit
    is ONE executor pass reducing to d-dim moments (a d*d partial per
    Arrow batch, few KB per task at any scale); only the 64x64 Gram
    matrix reaches the driver for eigh. Rows-only at the oracle gate
    (eigendecomposition isn't SQL); numpy parity, orthonormality,
    variance ordering, and partitioning invariance are pinned in
    tests/test_stats.py."""
    from graph_db_clustering_spark.operators.stats import pca_fit, pca_transform

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=4)
    out = pca_transform(emb.select("vec_id", "embedding"), "embedding", model)
    return out.select(
        "vec_id",
        *[F.round(F.col("pc")[i], 6).alias(f"pc{i + 1}") for i in range(4)],
    ).orderBy("vec_id")


@declared("gmm_embed")  # iterative EM: not ANSI-SQL-expressible
def gmm_embed(spark, sf_dir):
    """Diagonal-covariance GMM posteriors over the embedding corpus
    (round 8, operators/gmm): soft clustering — k-means' hard argmin
    relaxed to responsibilities, the density model a curation pipeline
    uses for outlier scoring (low mixture log-density = off-manifold
    sample). Deterministic init (Knuth-hash k-sample), 5 EM rounds;
    every E-step is pure codegen (parameters inlined as array
    literals), every M-step one k*d-key aggregate. Rows-only at the
    gate; numpy-EM parity, monotone log-likelihood, and invariance are
    pinned in tests/test_gmm.py."""
    from graph_db_clustering_spark.operators.gmm import gmm_fit, gmm_predict

    emb = load_table(spark, sf_dir, "embeddings")
    model = gmm_fit(emb, "embedding", k=4, max_iter=5, tol=1e-6)
    return (
        gmm_predict(emb, "embedding", model)
        .select(
            "vec_id",
            "cid",
            F.round("prob", 6).alias("prob"),
            F.round("loglik", 4).alias("loglik"),
        )
        .orderBy("vec_id")
    )


@declared(
    "embedding_silhouette",
    """WITH flat AS (SELECT vec_id, vec_id % 4 AS c,
       generate_subscripts(embedding, 1) - 1 AS pos, UNNEST(embedding) AS x
     FROM embeddings),
cent AS (SELECT c, pos, AVG(x) AS m FROM flat GROUP BY c, pos),
dists AS (SELECT f.vec_id, f.c AS own, cent.c AS cc,
            SQRT(SUM(POWER(f.x - cent.m, 2))) AS dist
          FROM flat f JOIN cent ON f.pos = cent.pos
          GROUP BY f.vec_id, f.c, cent.c),
ab AS (SELECT vec_id, own,
         MAX(CASE WHEN cc = own THEN dist END) AS a,
         MIN(CASE WHEN cc <> own THEN dist END) AS b
       FROM dists GROUP BY vec_id, own)
SELECT own AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG((b - a) / GREATEST(a, b)), 6) AS avg_silhouette
FROM ab GROUP BY own ORDER BY own""",
)
def embedding_silhouette(spark, sf_dir):
    """Per-cluster simplified silhouette (round 8,
    operators/stats.simplified_silhouette) over the deterministic
    vec_id % 4 partition — the cluster-quality readout of the
    clustering family, centroid-based O(N*k) like MLlib's evaluator.
    Spark inlines the collected centroids as literals (pure codegen
    scoring pass, zero joins); the oracle recomputes centroids,
    distances, and the (b-a)/max(a,b) definition from scratch in SQL.
    A hash partition has silhouette ~< 0 — the metric correctly calls
    unclustered data unclustered."""
    from graph_db_clustering_spark.operators.stats import simplified_silhouette

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", (F.col("vec_id") % 4).alias("cluster")
    )
    s = simplified_silhouette(emb, "vec_id", "embedding", "cluster")
    return (
        s.groupBy(F.col("cluster"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("silhouette"), 6).alias("avg_silhouette"),
        )
        .orderBy("cluster")
    )


@declared(
    "embedding_medoids",
    """WITH flat AS (SELECT vec_id, vec_id % 4 AS c,
       generate_subscripts(embedding, 1) - 1 AS pos, UNNEST(embedding) AS x
     FROM embeddings),
pair AS (SELECT f1.c, f1.vec_id AS id1, f2.vec_id AS id2,
           SQRT(SUM(POWER(f1.x - f2.x, 2))) AS d
         FROM flat f1 JOIN flat f2
           ON f1.c = f2.c AND f1.pos = f2.pos AND f1.vec_id <> f2.vec_id
         GROUP BY f1.c, f1.vec_id, f2.vec_id),
sums AS (SELECT c, id1, SUM(d) AS total, COUNT(*) AS m
         FROM pair GROUP BY c, id1),
best AS (SELECT c, id1 AS medoid_id, total * 1.0 / m AS avg_dist,
           ROW_NUMBER() OVER (PARTITION BY c ORDER BY total, id1) AS rn
         FROM sums)
SELECT c AS cluster, medoid_id, ROUND(avg_dist, 6) AS avg_dist
FROM best WHERE rn = 1 ORDER BY cluster""",
)
def embedding_medoids(spark, sf_dir):
    """Per-cluster medoid over the deterministic vec_id % 4 partition
    (round 8, operators/stats.cluster_medoids) — k-medoids' PAM update
    step: the member minimizing total distance to its cluster. The
    cluster-keyed pair join bounds work at cluster size squared (PAM's
    stated cost; CLARA sampling is the web-scale variant); the oracle
    re-derives every pairwise distance from unnested components."""
    from graph_db_clustering_spark.operators.stats import cluster_medoids

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", (F.col("vec_id") % 4).alias("cluster")
    )
    return (
        cluster_medoids(emb, "vec_id", "embedding", "cluster")
        .select("cluster", "medoid_id", F.round("avg_dist", 6).alias("avg_dist"))
        .orderBy("cluster")
    )


@declared(
    "robots_filter",
    """WITH urls AS (SELECT doc_id, source,
       '/' || lang || '/doc' || CAST(doc_id AS VARCHAR) AS path
     FROM documents),
hosts AS (SELECT DISTINCT source FROM documents),
rules AS (
  SELECT source, FALSE AS allow, '/de/' AS pattern FROM hosts
  UNION ALL SELECT source, TRUE, '/de/doc1' FROM hosts
  UNION ALL SELECT source, FALSE, '/es/doc' FROM hosts
    WHERE CAST(regexp_extract(source, '[0-9]+') AS INT) % 2 = 1),
m AS (SELECT u.doc_id, r.allow, LENGTH(r.pattern) AS pri
      FROM urls u JOIN rules r ON u.source = r.source
       AND u.path LIKE r.pattern || '%'),
best AS (SELECT doc_id, MAX(pri) AS mp FROM m GROUP BY doc_id),
dec AS (SELECT m.doc_id, BOOL_OR(m.allow) AS allowed
        FROM m JOIN best ON m.doc_id = best.doc_id AND m.pri = best.mp
        GROUP BY m.doc_id)
SELECT u.doc_id, u.path, COALESCE(dec.allowed, TRUE) AS allowed
FROM urls u LEFT JOIN dec ON u.doc_id = dec.doc_id ORDER BY u.doc_id""",
)
def robots_filter_q(spark, sf_dir):
    """RFC 9309 robots.txt evaluation (round 8,
    operators/web.robots_filter): every synthesized page URL is gated
    by its host's robots.txt for agent 'graftbot/1.0' — German pages
    disallowed except the /de/doc1* prefix, Spanish doc pages
    additionally blocked on odd-numbered hosts, a catch-all '*' group
    that denies everything (and must NOT apply: the specific graftbot
    group wins per §2.2.1). The full parser handles wildcards/$/group
    merging (unit-tested against the RFC examples); the declared rules
    here are prefix-only so the DuckDB oracle can replay the
    longest-match + allow-on-tie decision with LIKE and lengths."""
    from graph_db_clustering_spark.operators.web import robots_filter

    docs = load_table(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.col("source").alias("host"),
        F.concat(
            F.lit("/"), F.col("lang"), F.lit("/doc"), F.col("doc_id").cast("string")
        ).alias("path"),
    ).withColumn(
        "url",
        F.concat(F.lit("http://"), F.col("host"), F.lit(".example"), F.col("path")),
    )
    hosts = docs.select(F.col("source").alias("host")).distinct()
    odd = (
        F.regexp_extract(F.col("host"), r"(\d+)", 1).cast("int") % 2 == 1
    )
    robots = hosts.select(
        "host",
        F.concat(
            F.lit("User-agent: graftbot\nDisallow: /de/\nAllow: /de/doc1\n"),
            F.when(odd, F.lit("Disallow: /es/doc\n")).otherwise(F.lit("")),
            F.lit("User-agent: *\nDisallow: /\n"),
        ).alias("robots_txt"),
    )
    out = robots_filter(urls, robots, "graftbot/1.0")
    return out.select("doc_id", "path", "allowed").orderBy("doc_id")


@declared(
    "frontier_schedule",
    """WITH urls AS (SELECT doc_id, source AS host,
       '/' || lang || '/doc' || CAST(doc_id AS VARCHAR) AS path
     FROM documents),
ranked AS (SELECT doc_id, host, path,
       ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) AS slot
     FROM urls)
SELECT doc_id, host, path, CAST(slot AS BIGINT) AS slot,
       CAST((slot - 1) * 2 AS BIGINT) AS fetch_offset_s
FROM ranked ORDER BY host, slot""",
)
def frontier_schedule(spark, sf_dir):
    """Politeness-scheduled crawl frontier (round 8): per-host fetch
    slots with a 2-second delay between same-host requests — the
    scheduling step between robots_filter and the fetch pool. One
    host-partitioned window; hosts schedule independently, so the
    shuffle is host-keyed and a million-host frontier parallelizes
    per host (the hot-host ceiling is the politeness delay itself,
    not the plan)."""
    docs = load_table(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.col("source").alias("host"),
        F.concat(
            F.lit("/"), F.col("lang"), F.lit("/doc"), F.col("doc_id").cast("string")
        ).alias("path"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy("doc_id")
    return (
        urls.withColumn("slot", F.row_number().over(w).cast("long"))
        .withColumn("fetch_offset_s", ((F.col("slot") - 1) * 2).cast("long"))
        .orderBy("host", "slot")
    )


@declared(
    "cms_counts",
    """WITH keys AS (SELECT event_type || ':' || CAST(user_id % 10 AS VARCHAR)
       AS k FROM events),
cells AS (SELECT t.j,
    ('0x' || substr(md5(CAST(t.j AS VARCHAR) || ':' || k), 1, 8))::UBIGINT
      % 64 AS b,
    COUNT(*) AS c
  FROM keys, generate_series(0, 3) t(j) GROUP BY t.j, b),
ks AS (SELECT k, COUNT(*) AS exact FROM keys GROUP BY k),
probes AS (SELECT ks.k, ks.exact, t.j,
    ('0x' || substr(md5(CAST(t.j AS VARCHAR) || ':' || ks.k), 1, 8))::UBIGINT
      % 64 AS b
  FROM ks, generate_series(0, 3) t(j)),
est AS (SELECT p.k, MAX(p.exact) AS exact, MIN(COALESCE(cells.c, 0)) AS est
        FROM probes p LEFT JOIN cells ON p.j = cells.j AND p.b = cells.b
        GROUP BY p.k)
SELECT k, CAST(exact AS BIGINT) AS exact, CAST(est AS BIGINT) AS cms_est,
       CAST(est - exact AS BIGINT) AS overcount
FROM est ORDER BY k""",
)
def cms_counts(spark, sf_dir):
    """Count-Min Sketch frequency estimates (round 8,
    operators/sketches): 4x64 deterministic-md5 sketch over
    (event_type, user-decile) keys, estimates joined against exact
    counts — overcount >= 0 on EVERY key is the CMS one-sided
    guarantee made visible. Deterministic hashing means the oracle
    rebuilds the identical sketch cell-for-cell; most CMS impls are
    seeded-random and uncheckable from outside."""
    from graph_db_clustering_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    e = load_table(spark, sf_dir, "events").select(
        F.concat(
            F.col("event_type"), F.lit(":"), (F.col("user_id") % 10).cast("string")
        ).alias("k")
    )
    cms = cms_build(e, "k")
    exact = e.groupBy("k").agg(F.count("*").alias("exact"))
    est = cms_estimate(exact.select("k"), cms, "k")
    return (
        exact.join(est, "k")
        .select(
            "k",
            F.col("exact").cast("long").alias("exact"),
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") - F.col("exact")).cast("long").alias("overcount"),
        )
        .orderBy("k")
    )


@declared(
    "spatial_pairs",
    """WITH pts AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
       CAST(embedding[2] AS DOUBLE) AS y FROM embeddings)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       ROUND(SQRT((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)), 6)
         AS dist
FROM pts a JOIN pts b ON a.vec_id < b.vec_id
WHERE SQRT((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= 0.05
ORDER BY id1, id2""",
)
def spatial_pairs(spark, sf_dir):
    """Grid-bucketed 2-D radius join (round 8,
    operators/joins.grid_radius_join) over the first two embedding
    dimensions: all pairs within L2 0.05. The engine probes 9 grid
    cells per point and equi-joins on the cell key — per-cell work is
    occupancy-bounded, no cross join anywhere; the oracle brute-forces
    the O(N^2) theta join to certify every pair found and none
    invented."""
    from graph_db_clustering_spark.operators.joins import grid_radius_join

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    return (
        grid_radius_join(pts, "vec_id", "x", "y", 0.05)
        .select("id1", "id2", F.round("dist", 6).alias("dist"))
        .orderBy("id1", "id2")
    )


@declared(
    "dbscan_embed",
    """WITH RECURSIVE
pts AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
        CAST(embedding[2] AS DOUBLE) AS y FROM embeddings),
e AS (SELECT a.vec_id AS ex, b.vec_id AS ey FROM pts a JOIN pts b
      ON a.vec_id <> b.vec_id
     AND SQRT((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= 0.02),
nc AS (SELECT ex, COUNT(*) + 1 AS n FROM e GROUP BY ex),
core AS (SELECT p.vec_id FROM pts p LEFT JOIN nc ON p.vec_id = nc.ex
         WHERE COALESCE(nc.n, 1) >= 5),
ce AS (SELECT e.ex, e.ey FROM e
       JOIN core c1 ON e.ex = c1.vec_id JOIN core c2 ON e.ey = c2.vec_id),
reach(a, b) AS (
  SELECT vec_id, vec_id FROM core
  UNION
  SELECT r.a, ce.ey FROM reach r JOIN ce ON r.b = ce.ex),
comp AS (SELECT a AS vec_id, MIN(b) AS label FROM reach GROUP BY a),
border AS (SELECT e.ex AS vec_id, MIN(comp.label) AS label
           FROM e JOIN comp ON e.ey = comp.vec_id
           WHERE e.ex NOT IN (SELECT vec_id FROM core)
           GROUP BY e.ex)
SELECT p.vec_id, CAST(COALESCE(c.label, b.label, -1) AS BIGINT) AS label,
       (c.vec_id IS NOT NULL) AS is_core
FROM pts p LEFT JOIN comp c ON p.vec_id = c.vec_id
     LEFT JOIN border b ON p.vec_id = b.vec_id
ORDER BY p.vec_id""",
)
def dbscan_embed(spark, sf_dir):
    """Distributed DBSCAN (round 8, operators/stats.dbscan_2d) over
    the first two embedding dimensions, eps 0.02 / min_pts 5: the
    deterministic DBSCAN* border variant — clusters are min-id-labeled
    components of the core-core eps-graph, borders join their
    minimum-label core neighbor, noise is -1. The engine composes
    grid_radius_join (cell-keyed neighbor pairs) with
    connected_components (min-label propagation); the oracle
    re-derives everything from the brute-force neighbor join and a
    RECURSIVE transitive closure — an iterative graph algorithm
    certified by SQL's one recursive construct."""
    from graph_db_clustering_spark.operators.stats import dbscan_2d

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    return (
        dbscan_2d(pts, "vec_id", "x", "y", 0.02, 5)
        .select("vec_id", "label", "is_core")
        .orderBy("vec_id")
    )


@declared(
    "knn_outliers",
    """WITH pts AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
        CAST(embedding[2] AS DOUBLE) AS y FROM embeddings),
d AS (SELECT a.vec_id,
        SQRT((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS dist
      FROM pts a JOIN pts b ON a.vec_id <> b.vec_id),
r AS (SELECT vec_id, dist,
        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, vec_id) AS rn
      FROM d)
SELECT vec_id, ROUND(dist, 6) AS knn_dist
FROM r WHERE rn = 5 ORDER BY knn_dist DESC, vec_id LIMIT 20""",
)
def knn_outliers(spark, sf_dir):
    """k-distance outlier scores (round 8): each point's distance to
    its 5th nearest neighbor in the 2-D projection — the classic
    density-based outlier readout (kNN outlier detection, Ramaswamy et
    al. 2000); the top-20 list is the triage queue. The engine finds
    5-NN WITHOUT the O(N^2) join: grid_radius_join at an eps chosen to
    cover 5 neighbors everywhere (radius doubling would make this
    adaptive), then a per-point k-th-smallest aggregate and a global
    TakeOrdered top-20. The oracle brute-forces all pairs to certify
    the same 5th distances."""
    from graph_db_clustering_spark.operators.joins import grid_radius_join

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    # eps wide enough that every point has >= 5 neighbors inside
    # (validated by the oracle match: a too-small eps would LOSE
    # neighbors and inflate knn_dist)
    pairs = grid_radius_join(pts, "vec_id", "x", "y", 0.6)
    und = pairs.unionAll(
        pairs.select(
            F.col("id2").alias("id1"), F.col("id1").alias("id2"), "dist"
        )
    )
    kth = (
        und.groupBy(F.col("id1").alias("vec_id"))
        .agg(F.sort_array(F.collect_list("dist")).alias("ds"))
        .select("vec_id", F.element_at("ds", 5).alias("knn_dist"))
    )
    return (
        kth.select("vec_id", F.round("knn_dist", 6).alias("knn_dist"))
        .orderBy(F.desc("knn_dist"), "vec_id")
        .limit(20)
    )


@declared(
    "item_cooccurrence",
    """WITH ui AS (SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
       FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
cnt AS (SELECT i, COUNT(*) AS n FROM ui GROUP BY i),
co AS (SELECT a.i AS i1, b.i AS i2, COUNT(*) AS nb
       FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
       GROUP BY a.i, b.i),
scored AS (SELECT co.i1, co.i2, co.nb,
       co.nb / SQRT(c1.n * 1.0 * c2.n) AS cosine
     FROM co JOIN cnt c1 ON co.i1 = c1.i JOIN cnt c2 ON co.i2 = c2.i)
SELECT i1, i2, CAST(nb AS BIGINT) AS n_both, ROUND(cosine, 6) AS cosine
FROM scored ORDER BY cosine DESC, i1, i2 LIMIT 100""",
)
def item_cooccurrence(spark, sf_dir):
    """Item-item collaborative filtering (round 8): cosine similarity
    over binary user-item vectors — cooc / sqrt(n_a * n_b) — the
    'customers who bought X also bought Y' readout. The user-item
    frame collapses to DISTINCT (customer, part) first; the pair join
    is keyed by customer, so per-user work is basket-size squared (cap
    hot baskets by sampling at web scale — same guard family as
    link prediction's max_center_degree); top-100 plans as
    TakeOrdered."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ui = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    cnt = ui.groupBy("i").agg(F.count("*").alias("n"))
    a = ui.select("u", F.col("i").alias("i1"))
    b = ui.select("u", F.col("i").alias("i2"))
    co = (
        a.join(b, "u")
        .filter(F.col("i1") < F.col("i2"))
        .groupBy("i1", "i2")
        .agg(F.count("*").alias("n_both"))
    )
    return (
        co.join(cnt.select(F.col("i").alias("i1"), F.col("n").alias("n1")), "i1")
        .join(cnt.select(F.col("i").alias("i2"), F.col("n").alias("n2")), "i2")
        .select(
            "i1",
            "i2",
            F.col("n_both").cast("long").alias("n_both"),
            F.round(
                F.col("n_both") / F.sqrt(F.col("n1") * 1.0 * F.col("n2")), 6
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "i1", "i2")
        .limit(100)
    )


@declared(
    "inverted_postings",
    """WITH terms AS (SELECT doc_id, UNNEST(string_split_regex(LOWER(TRIM(text)),
       '\\s+')) AS w FROM documents),
tf AS (SELECT w, doc_id, COUNT(*) AS f FROM terms WHERE w <> ''
       GROUP BY w, doc_id),
df AS (SELECT w, COUNT(*) AS docfreq, SUM(f) AS cf FROM tf GROUP BY w),
top AS (SELECT w, docfreq, cf FROM df
        ORDER BY cf DESC, w LIMIT 20)
SELECT t.w AS term, CAST(t.docfreq AS BIGINT) AS doc_freq,
       CAST(t.cf AS BIGINT) AS corpus_freq,
       ARRAY_TO_STRING(LIST_SORT(LIST(tf.doc_id || ':' || tf.f)), '|')
         AS postings
FROM top t JOIN tf ON t.w = tf.w
GROUP BY t.w, t.docfreq, t.cf ORDER BY corpus_freq DESC, term""",
)
def inverted_postings(spark, sf_dir):
    """Inverted-index construction (round 8): term -> sorted posting
    list (doc:tf pairs) for the 20 highest-corpus-frequency terms —
    the physical structure BM25/TF-IDF retrieval serves from. One
    term-keyed tf aggregate (the data-sized work), a 20-row top-k,
    and a semi-join back to collect only the selected terms' postings
    (never materializing the full index to the driver)."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    tf = terms.groupBy("w", "doc_id").agg(F.count("*").alias("f"))
    df_ = tf.groupBy("w").agg(
        F.count("*").alias("doc_freq"), F.sum("f").alias("corpus_freq")
    )
    top = df_.orderBy(F.desc("corpus_freq"), "w").limit(20)
    return (
        top.join(tf, "w")
        .groupBy("w", "doc_freq", "corpus_freq")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.col("f").cast("string"),
                        )
                    )
                ),
                "|",
            ).alias("postings")
        )
        .select(
            F.col("w").alias("term"),
            F.col("doc_freq").cast("long").alias("doc_freq"),
            F.col("corpus_freq").cast("long").alias("corpus_freq"),
            "postings",
        )
        .orderBy(F.desc("corpus_freq"), "term")
    )


@declared(
    "fuzzy_terms",
    """WITH terms AS (SELECT DISTINCT UNNEST(string_split_regex(
       LOWER(TRIM(text)), '\\s+')) AS w FROM documents),
vocab AS (SELECT w FROM terms WHERE LENGTH(w) >= 3
          UNION
          SELECT substr(w, 1, LENGTH(w) - 1) || 'x' FROM terms
          WHERE LENGTH(w) >= 3)
SELECT a.w AS t1, b.w AS t2, CAST(1 AS INT) AS dist
FROM vocab a JOIN vocab b ON a.w < b.w AND levenshtein(a.w, b.w) = 1
ORDER BY t1, t2""",
)
def fuzzy_terms(spark, sf_dir):
    """Edit-distance-1 term pairs over the long-word vocabulary
    (round 8, operators/text.edit1_pairs): the typo/variant detector a
    normalization pipeline runs before merging token statistics.
    Deletion-neighborhood blocking makes the candidate join complete
    by construction; the brute-force levenshtein oracle certifies no
    pair was missed and none invented. The vocabulary is augmented
    with deterministic last-char typos on BOTH sides (this synthetic
    corpus's 31-word vocabulary contains no natural edit-1 pairs)."""
    from graph_db_clustering_spark.operators.text import edit1_pairs

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 3)
        .distinct()
    )
    # deterministic 'typo' augmentation (last char -> x), mirrored in
    # the oracle: the synthetic vocabulary is too clean to contain
    # natural edit-1 pairs, so the detector gets real work
    vocab = words.unionByName(
        words.select(
            F.concat(
                F.substring(F.col("w"), 1, F.length("w") - 1), F.lit("x")
            ).alias("w")
        )
    ).distinct()
    return (
        edit1_pairs(vocab, "w")
        .select(F.col("t1"), F.col("t2"), F.col("dist").cast("int").alias("dist"))
        .orderBy("t1", "t2")
    )


@declared("doc_logreg")  # IRLS: iterative, not ANSI-SQL-expressible
def doc_logreg(spark, sf_dir):
    """Distributed logistic regression (round 8,
    operators/stats.logreg_fit): is-English classified from two cheap
    text statistics (length, word count) — the supervised counterpart
    of doc_auc's rank test. Each Newton/IRLS iteration is one
    mapInPandas moments pass (the ols_fit shape with per-row weights);
    the scoring pass is a pure codegen sigmoid. Rows-only at the gate;
    driver-Newton parity, separation handling, and codegen scoring
    are pinned in tests/test_stats.py."""
    from graph_db_clustering_spark.operators.stats import (
        logreg_fit,
        logreg_predict,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("y"),
        F.col("n_chars").cast("double").alias("n_chars"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double").alias("n_words"),
    )
    m = logreg_fit(d, ["n_chars", "n_words"], "y", l2=1e-6)
    return (
        logreg_predict(d, ["n_chars", "n_words"], m)
        .select(
            "doc_id",
            "y",
            F.round("prob", 6).alias("prob"),
            (F.col("prob") >= 0.5).alias("pred"),
        )
        .orderBy("doc_id")
    )


@declared("pic_embed")  # power iteration: iterative, not ANSI-SQL
def pic_embed(spark, sf_dir):
    """Power Iteration Clustering (round 8, operators/stats
    .pic_cluster) over the 2-D embedding projection: the spectral-
    clustering result without an eigendecomposition — v <- W v over
    the sparse eps-affinity graph (pagerank-shaped iterations), then
    a quantile-initialized 1-D Lloyd on the pseudo-eigenvector.
    Rows-only; blob separation and partitioning invariance are pinned
    in tests/test_stats.py."""
    from graph_db_clustering_spark.operators.stats import pic_cluster

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("embedding")[0].cast("double").alias("x"),
        F.col("embedding")[1].cast("double").alias("y"),
    )
    return pic_cluster(pts, "vec_id", "x", "y", eps=0.05, k=3).orderBy("vec_id")


@declared("nb_crossval")  # 3 trained models: not one ANSI-SQL query
def nb_crossval(spark, sf_dir):
    """3-fold cross-validated Naive Bayes language ID (round 8): folds
    are hash-deterministic (doc_id % 3 — reproducible, partition-
    invariant, leak-free), each fold is scored by a model trained on
    the other two, and per-fold accuracy comes back as the eval-report
    row — the measurement loop every classifier in the repo should be
    judged by. Rows-only (three trained models aren't one SQL query);
    determinism follows from nb_train/nb_predict being pure
    aggregations."""
    from functools import reduce

    from graph_db_clustering_spark.operators.classify import (
        nb_predict,
        nb_train,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.col("lang").alias("label")
    )
    outs = []
    for fold in range(3):
        train = docs.filter(F.col("doc_id") % 3 != fold)
        test = docs.filter(F.col("doc_id") % 3 == fold)
        tm, lm = nb_train(train, "doc_id", "text", "label")
        pred = nb_predict(test, tm, lm, "doc_id", "text").select(
            "doc_id", F.col("label").alias("pred")
        )
        scored = test.join(pred, "doc_id").select(
            F.lit(fold).alias("fold"),
            (F.col("label") == F.col("pred")).cast("int").alias("hit"),
        )
        outs.append(
            scored.groupBy("fold").agg(
                F.count("*").cast("long").alias("n"),
                F.round(F.avg("hit"), 6).alias("accuracy"),
            )
        )
    return reduce(lambda a, b: a.unionAll(b), outs).orderBy("fold")


@declared("textrank_terms")  # pagerank over co-occurrence: iterative
def textrank_terms(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau 2004) — round 8:
    terms are vertices, co-occurrence within a 2-token window makes
    edges, and PageRank over that graph ranks keywords. Pure
    composition: the co-occurrence edges are one arrays_zip pass over
    tokenized text, the ranking is the engine's existing distributed
    pagerank — graph machinery applied to text, which is the whole
    point of a graph+corpus engine. Rows-only (iterative); parity with
    a driver-side power iteration is pinned in pagerank's own tests."""
    from graph_db_clustering_spark.operators.graph import Graph
    from graph_db_clustering_spark.operators.graph_algos import pagerank

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws")
    )
    pairs = (
        toks.select(
            F.explode(
                F.arrays_zip(
                    F.slice("ws", 1, F.size("ws") - 1),
                    F.expr("slice(ws, 2, size(ws) - 1)"),
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
        .filter((F.col("a") != "") & (F.col("b") != "") & (F.col("a") != F.col("b")))
        .distinct()
    )
    vocab = (
        pairs.select(F.col("a").alias("w"))
        .unionAll(pairs.select("b"))
        .distinct()
        .withColumn("id", F.conv(F.substring(F.md5("w"), 1, 14), 16, 10).cast("long"))
    )
    edges = (
        pairs.join(vocab.select(F.col("w").alias("a"), F.col("id").alias("src")), "a")
        .join(vocab.select(F.col("w").alias("b"), F.col("id").alias("dst")), "b")
        .select("src", "dst", F.lit("cooc").alias("relationship"))
    )
    und = edges.unionAll(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "relationship"
        )
    )
    g = Graph(vocab.select("id"), und)
    ranks = pagerank(g, max_iter=25)
    return (
        ranks.join(vocab, "id")
        .select("w", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "w")
        .limit(15)
    )


@declared("doc_compressibility")  # zlib: no ANSI-SQL form
def doc_compressibility(spark, sf_dir):
    """zlib compression ratio per document (round 8,
    operators/text.compression_ratio): the CCNet-style junk signal —
    repetitive text compresses much harder than prose, so the LOW tail
    of this ratio is the cleanup queue. Rows-only (no SQL zlib);
    monotonicity (repetition -> lower ratio) and exact zlib parity are
    pinned in tests."""
    from graph_db_clustering_spark.operators.text import compression_ratio

    d = load_table(spark, sf_dir, "documents")
    return (
        compression_ratio(d, "doc_id", "text")
        .select("doc_id", "raw_len", "comp_len", F.round("ratio", 6).alias("ratio"))
        .orderBy("doc_id")
    )


@declared(
    "hll_distinct",
    """WITH keys AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS k
       FROM events),
hs AS (SELECT event_type,
    ('0x' || substr(md5(k), 1, 8))::UBIGINT % 64 AS b,
    ('0x' || substr(md5(k), 9, 13))::UBIGINT AS x
  FROM keys),
regs AS (SELECT event_type, b,
    MAX(CASE WHEN x = 0 THEN 53
        ELSE strpos(lpad(bin(x), 52, '0'), '1') END) AS rho
  FROM hs GROUP BY event_type, b),
agg AS (SELECT event_type,
    SUM(POWER(2.0, -rho)) + (64 - COUNT(*)) AS z,
    64 - COUNT(*) AS v
  FROM regs GROUP BY event_type),
ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
       FROM events GROUP BY event_type)
SELECT ex.event_type, CAST(ex.n_exact AS BIGINT) AS n_exact,
       ROUND(CASE WHEN 0.709 * 4096 / z <= 160.0 AND v > 0
                  THEN 64 * LN(64.0 / v)
                  ELSE 0.709 * 4096 / z END, 4) AS hll_est
FROM agg JOIN ex USING (event_type) ORDER BY event_type""",
)
def hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-user estimates per event type (round 9,
    operators/sketches.hll_build/hll_estimate): 64 deterministic-md5
    registers, raw harmonic-mean estimator with the paper's
    small-range correction, joined against exact COUNT(DISTINCT). The
    builtins already give approx_count_distinct; this is the
    from-first-principles MERGEABLE sketch (registers max-merge), and
    the deterministic hashing lets the oracle rebuild every register
    — the estimate matches to the digit, not within a tolerance
    band."""
    from graph_db_clustering_spark.operators.sketches import (
        hll_build,
        hll_estimate,
    )

    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    regs = hll_build(e, "user_id", ["event_type"], p=6)
    est = hll_estimate(regs, ["event_type"], p=6)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return (
        exact.join(est, "event_type")
        .select("event_type", "n_exact", F.round("hll_est", 4).alias("hll_est"))
        .orderBy("event_type")
    )


@declared(
    "fuzzy_names",
    """WITH pr AS (SELECT p_partkey, p_name, p_brand FROM part)
SELECT a.p_partkey AS key_1, b.p_partkey AS key_2,
       ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS sim
FROM pr a JOIN pr b
  ON a.p_brand = b.p_brand
 AND a.p_partkey < b.p_partkey
WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.88
ORDER BY key_1, key_2""",
)
def fuzzy_names(spark, sf_dir):
    """Blocked Jaro-Winkler fuzzy matching (round 9,
    operators/text.jaro_winkler / fuzzy_name_pairs): part names
    scored pairwise WITHIN (brand, size) blocks — the classic
    record-linkage shape where blocking bounds the quadratic term and
    a string-similarity scorer ranks candidates. The scorer is
    implemented from the public definition (matching window,
    transposition halving, 4-char prefix bonus above 0.7) and the
    oracle uses DuckDB's INDEPENDENT jaro_winkler_similarity builtin —
    two separate implementations of the metric must agree pair-for-
    pair to 6 decimals for the hash to match."""
    from graph_db_clustering_spark.operators.text import fuzzy_name_pairs

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand"
    )
    return (
        fuzzy_name_pairs(p, "p_partkey", "p_name", ["p_brand"], min_sim=0.88)
        .orderBy("key_1", "key_2")
    )


@declared(
    "entity_resolution",
    """WITH RECURSIVE
pr AS (SELECT p_partkey, p_name, p_brand FROM part WHERE p_partkey < 400),
pairs AS (
  SELECT a.p_partkey AS id1, b.p_partkey AS id2
  FROM pr a JOIN pr b
    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
  WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.88),
edges AS (SELECT id1 AS a, id2 AS b FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
reach(node, lbl) AS (
  SELECT p_partkey, p_partkey FROM pr
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
comp AS (SELECT node AS p_partkey, MIN(lbl) AS canonical_id
         FROM reach GROUP BY node),
csz AS (SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM comp GROUP BY canonical_id)
SELECT c.p_partkey, c.canonical_id, s.cluster_size,
       c.p_partkey = c.canonical_id AS keep
FROM comp c JOIN csz s USING (canonical_id) ORDER BY c.p_partkey""",
)
def entity_resolution(spark, sf_dir):
    """Entity resolution end to end (round 9): blocked Jaro-Winkler
    candidate pairs (operators/text.fuzzy_name_pairs, brand blocks,
    two independent metric implementations per the fuzzy_names entry)
    -> undirected connected components -> canonical survivor per
    entity cluster (operators/dedup.cluster_pairs) — the classic
    record-linkage pipeline: block, score, transitively close, pick a
    golden record. The oracle rebuilds the pairs with DuckDB's own
    jaro_winkler_similarity and closes them with a recursive CTE, so
    the driver gate scores blocking, scoring, AND the component
    machinery together."""
    from graph_db_clustering_spark.operators.text import fuzzy_name_pairs

    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_partkey") < 400
    ).select("p_partkey", "p_name", "p_brand")
    pairs = fuzzy_name_pairs(
        p, "p_partkey", "p_name", ["p_brand"], min_sim=0.88
    ).select(F.col("key_1").alias("id1"), F.col("key_2").alias("id2"))
    return dedup.cluster_pairs(p, "p_partkey", pairs).orderBy("p_partkey")


@declared(
    "hard_negatives",
    """WITH e AS (SELECT vec_id, label, embedding,
       SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * x)))
         AS nrm
  FROM embeddings WHERE vec_id < 300),
pairs AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         ROUND(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
             i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]))
           / (a.nrm * b.nrm), 6) AS cos
  FROM e a JOIN e b ON a.label <> b.label),
rk AS (SELECT qid, nid, cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS r
       FROM pairs)
SELECT qid, nid AS hard_neg, cos AS sim FROM rk WHERE r = 1 ORDER BY qid""",
)
def hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training data (round 9):
    for each anchor embedding, the single most-similar vector with a
    DIFFERENT label — the pairs a contrastive loss learns most from
    (easy negatives are already far; hard ones sit just across the
    boundary). Brute-force cosine over a capped anchor set is the
    exact baseline (the same contract as similarity_topk); the
    ANN-accelerated swap at 100 TB is ivfpq_search with a
    label-mismatch post-filter over a deeper shortlist. Ranking
    happens on the 6-decimal-rounded similarity so the two engines'
    float summation order cannot flap the argmax; ties break on the
    lower vec_id in both."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.filter(F.col("vec_id") < 300).select(
        "vec_id", "label", "embedding"
    )
    a = e.select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
    )
    b = e.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        F.col("embedding").alias("ne"),
    )
    from graph_db_clustering_spark.functions.vectors import cosine_similarity

    pairs = a.join(b, F.col("qlabel") != F.col("nlabel")).select(
        "qid", "nid",
        F.round(cosine_similarity(F.col("qe"), F.col("ne")), 6).alias("cos"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("qid", F.col("nid").alias("hard_neg"), F.col("cos").alias("sim"))
        .orderBy("qid")
    )


@declared(
    "minhash_estimate",
    """WITH d AS (SELECT doc_id,
       LIST_DISTINCT(string_split_regex(LOWER(TRIM(text)), '\\s+')) AS toks
  FROM documents WHERE doc_id < 80),
sg AS (SELECT doc_id, toks,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('0:' || t))) AS s0,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('1:' || t))) AS s1,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('2:' || t))) AS s2,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('3:' || t))) AS s3,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('4:' || t))) AS s4,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('5:' || t))) AS s5,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('6:' || t))) AS s6,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('7:' || t))) AS s7,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('8:' || t))) AS s8,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('9:' || t))) AS s9,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('10:' || t))) AS s10,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('11:' || t))) AS s11,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('12:' || t))) AS s12,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('13:' || t))) AS s13,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('14:' || t))) AS s14,
    LIST_MIN(LIST_TRANSFORM(toks, t -> md5('15:' || t))) AS s15 FROM d),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2,
         (CASE WHEN a.s0 = b.s0 THEN 1 ELSE 0 END
         + CASE WHEN a.s1 = b.s1 THEN 1 ELSE 0 END
         + CASE WHEN a.s2 = b.s2 THEN 1 ELSE 0 END
         + CASE WHEN a.s3 = b.s3 THEN 1 ELSE 0 END
         + CASE WHEN a.s4 = b.s4 THEN 1 ELSE 0 END
         + CASE WHEN a.s5 = b.s5 THEN 1 ELSE 0 END
         + CASE WHEN a.s6 = b.s6 THEN 1 ELSE 0 END
         + CASE WHEN a.s7 = b.s7 THEN 1 ELSE 0 END
         + CASE WHEN a.s8 = b.s8 THEN 1 ELSE 0 END
         + CASE WHEN a.s9 = b.s9 THEN 1 ELSE 0 END
         + CASE WHEN a.s10 = b.s10 THEN 1 ELSE 0 END
         + CASE WHEN a.s11 = b.s11 THEN 1 ELSE 0 END
         + CASE WHEN a.s12 = b.s12 THEN 1 ELSE 0 END
         + CASE WHEN a.s13 = b.s13 THEN 1 ELSE 0 END
         + CASE WHEN a.s14 = b.s14 THEN 1 ELSE 0 END
         + CASE WHEN a.s15 = b.s15 THEN 1 ELSE 0 END) / 16.0 AS est,
         LEN(LIST_INTERSECT(a.toks, b.toks))
           / CAST(LEN(a.toks) + LEN(b.toks)
                  - LEN(LIST_INTERSECT(a.toks, b.toks)) AS DOUBLE) AS exact
  FROM sg a JOIN sg b ON a.doc_id < b.doc_id)
SELECT id1, id2, ROUND(est, 4) AS est_jaccard, ROUND(exact, 6) AS exact_jaccard
FROM pairs WHERE exact >= 0.5 ORDER BY id1, id2""",
)
def minhash_estimate(spark, sf_dir):
    """MinHash Jaccard ESTIMATION accuracy made visible (round 9): 16
    deterministic md5 min-hashes per document over its distinct token
    set; for every capped pair the estimate (matching signature rows /
    16) sits beside the exact Jaccard — the unbiasedness the LSH dedup
    tier banks on, as data instead of as a citation. Deterministic
    hashing means the oracle rebuilds every signature row byte-for-
    byte (the estimate matches exactly, not within a tolerance band);
    the exact side filters the pair set so both engines select
    identical rows (integer-ratio Jaccard is float-stable)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 80)
        .select(
            "doc_id",
            F.array_distinct(
                F.split(F.lower(F.trim("text")), r"\s+")
            ).alias("toks"),
        )
    )
    # NB: a two-parameter lambda in F.transform means (element, INDEX) —
    # a default-arg closure (lambda t, j=j: ...) silently receives the
    # array index as j. A one-arg factory avoids the trap.
    def _hash_j(j):
        return lambda t: F.md5(F.concat(F.lit(f"{j}:"), t))

    sig = d.select(
        "doc_id",
        "toks",
        *[
            F.array_min(F.transform("toks", _hash_j(j))).alias(f"s{j}")
            for j in range(16)
        ],
    )
    a = sig.select(
        F.col("doc_id").alias("id1"),
        F.col("toks").alias("t1"),
        *[F.col(f"s{j}").alias(f"a{j}") for j in range(16)],
    )
    b = sig.select(
        F.col("doc_id").alias("id2"),
        F.col("toks").alias("t2"),
        *[F.col(f"s{j}").alias(f"b{j}") for j in range(16)],
    )
    inter = F.size(F.array_intersect("t1", "t2")).cast("double")
    exact = inter / (F.size("t1") + F.size("t2") - inter)
    est = sum(
        [
            F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
            for j in range(16)
        ],
        F.lit(0),
    ) / 16.0
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select(
            "id1", "id2",
            F.round(est, 4).alias("est_jaccard"),
            F.round(exact, 6).alias("exact_jaccard"),
            exact.alias("__exact_raw"),
        )
        .filter(F.col("__exact_raw") >= 0.5)
        .drop("__exact_raw")
        .orderBy("id1", "id2")
    )


@declared(
    "avro_logical",
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
         AS total,
       CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR) AS first_day
FROM orders WHERE o_orderkey % 5 = 0
GROUP BY y ORDER BY y""",
)
def avro_logical(spark, sf_dir):
    """Avro LOGICAL TYPES end to end (round 11, sources/avro): order
    dates ride `{"type": "int", "logicalType": "date"}` and prices a
    bytes-backed decimal(12,2); containers are built executor-side and
    decode back into TYPED Spark columns (DateType / DecimalType) that
    the year-bucketed aggregate consumes directly. A shifted epoch, a
    sign-extension bug in the two's-complement unscaled value, or a
    scale mix-up moves the sums."""
    import pandas as pd
    from pyspark.sql import types as T

    from graph_db_clustering_spark.sources import avro as pyavro

    schema = {
        "type": "record",
        "name": "Order",
        "fields": [
            {"name": "o_orderkey", "type": "long"},
            {"name": "o_orderdate",
             "type": {"type": "int", "logicalType": "date"}},
            {"name": "o_totalprice",
             "type": {"type": "bytes", "logicalType": "decimal",
                      "precision": 12, "scale": 2}},
        ],
    }
    fields = pyavro.parse_schema(schema)
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("decimal(12,2)").alias(
                "o_totalprice"
            ),
            F.pmod(F.col("o_orderkey"), F.lit(8)).alias("shard"),
        )
    )

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("o_orderkey")
        rows = [
            {
                "o_orderkey": int(r.o_orderkey),
                "o_orderdate": r.o_orderdate,
                "o_totalprice": r.o_totalprice,
            }
            for r in pdf.itertuples()
        ]
        return pd.DataFrame(
            {"content": [bytearray(pyavro.encode_container(schema, rows))]}
        )

    blobs = o.repartition("shard").groupBy("shard").applyInPandas(
        build, T.StructType([T.StructField("content", T.BinaryType())])
    )
    back = pyavro.parse_avro_blobs(blobs, fields)
    return (
        back.groupBy(F.year("o_orderdate").cast("long").alias("y"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("o_totalprice").cast("double"), 2).alias(
                "total"
            ),
            F.min("o_orderdate").cast("string").alias("first_day"),
        )
        .orderBy("y")
    )


# ---------------------------------------------------------------------------
# exact substring-level dedup (round 14, VERDICT r13 #6 — Lee et al.
# ExactSubstr; operators/dedup.duplicated_ngram_spans / substring_dedup)
# ---------------------------------------------------------------------------

# planted-overlap corpus shared by both entries: every %10==0 document
# gains a clone carrying its first 30 tokens under doc_id + 1e6, so
# clone/original pairs share a >=30-token run by construction (plus
# whatever duplication the base corpus already carries — the oracle
# computes ground truth over the same corpus either way)
_SUBSTR_CORPUS_SQL = """corpus AS (
  SELECT doc_id, TRIM(text) AS text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(
           list_slice(string_split_regex(TRIM(text), '\\s+'), 1, 30), ' ')
  FROM documents WHERE doc_id % 10 = 0
)"""

_SUBSTR_RUNS_SQL = """toks AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM corpus
), grams AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(t, i, i + 11), ' ') AS gram
  FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(t) - 11)) AS i) g
  WHERE len(t) >= 12
), shared AS (
  SELECT gram FROM grams GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)
), marked AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN shared USING (gram)
), runs AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM marked
)"""


def _substr_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.trim(F.col("text")).alias("text")
    )
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), r"\s+"), 1, 30)
        ).alias("text"),
    )
    return docs.unionByName(clones)


@declared(
    "substring_spans",
    f"""WITH {_SUBSTR_CORPUS_SQL}, {_SUBSTR_RUNS_SQL}
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS run_len
FROM runs GROUP BY doc_id, grp HAVING COUNT(*) >= 3
ORDER BY doc_id, span_start""",
)
def substring_spans(spark, sf_dir):
    """Cross-document duplicated token spans, the Lee et al.
    ExactSubstr witness set (round 14): maximal runs of >= 3
    consecutive shared 12-grams over the planted-clone corpus. The
    oracle re-derives the same runs relationally (shared grams by
    min!=max doc, gaps-and-islands); a shuffle that drops positions,
    an off-by-one in the window slice, or counting intra-document
    repetition as corpus duplication all shift spans."""
    spans = dedup.duplicated_ngram_spans(
        _substr_corpus(spark, sf_dir), "doc_id", "text",
        n=12, min_run=3,
    )
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long"),
        F.col("span_end").cast("long"),
        F.col("run_len").cast("long"),
    ).orderBy("doc_id", "span_start")


@declared(
    "substring_dedup",
    f"""WITH {_SUBSTR_CORPUS_SQL}, {_SUBSTR_RUNS_SQL}, spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 11 AS e
  FROM runs GROUP BY doc_id, grp HAVING COUNT(*) >= 3
), cover AS (
  SELECT tk.doc_id, u.tp
  FROM (SELECT doc_id, len(t) AS nt FROM toks) tk,
       LATERAL (SELECT UNNEST(generate_series(0, tk.nt - 1)) AS tp) u
  WHERE EXISTS (SELECT 1 FROM spans s
                WHERE s.doc_id = tk.doc_id AND u.tp BETWEEN s.s AND s.e)
)
SELECT c.doc_id,
       CAST(COALESCE(sp.n_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(cv.n_cov, 0) AS BIGINT) AS n_dup_tokens
FROM corpus c
LEFT JOIN (SELECT doc_id, COUNT(*) AS n_spans FROM spans
           GROUP BY doc_id) sp USING (doc_id)
LEFT JOIN (SELECT doc_id, COUNT(*) AS n_cov FROM cover
           GROUP BY doc_id) cv USING (doc_id)
ORDER BY c.doc_id""",
)
def substring_dedup(spark, sf_dir):
    """ExactSubstr REMOVAL stats (round 14,
    operators/dedup.substring_dedup): each document rewritten with its
    cross-document duplicated spans cut out; the entry surfaces the
    per-doc span count and removed-token count. The oracle counts the
    UNION coverage of the span token intervals — overlapping spans
    must not double-count a token, which pins the HOF cut (filter by
    exists-over-spans) rather than a naive per-span length sum."""
    out = dedup.substring_dedup(
        _substr_corpus(spark, sf_dir), "doc_id", "text",
        n=12, min_run=3,
    )
    return out.select(
        "doc_id",
        F.col("n_dup_spans").cast("long"),
        F.col("n_dup_tokens").cast("long"),
    ).orderBy("doc_id")
