"""Text-analysis operators for LLM-data pipelines (north-star scope).

Language ID, quality scoring, token counting, and document fingerprinting —
all as built-in pyspark.sql.functions expressions (JVM-side, codegen). A
100 TB corpus pass stays entirely inside whole-stage codegen; none of these
touch Python per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
# Deliberately minimal: language ID at this fidelity is a scoring pipeline
# pattern, not a linguistics claim.
STOPWORD_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "que", "por"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "人"],
}


def tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token estimate: alpha runs count ~1 token per 4 chars
    (ceil), digits and other symbols 1 each — a deterministic regex
    approximation of subword tokenizers for budget estimation."""
    alpha_chunks = F.regexp_extract_all(text, F.lit(r"[A-Za-z]+"), 0)
    alpha_tokens = F.aggregate(
        alpha_chunks,
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.ceil(F.length(s) / F.lit(4.0)).cast("long"),
    )
    other = F.size(F.regexp_extract_all(text, F.lit(r"[0-9]|[^A-Za-z0-9\s]"), 0))
    return (alpha_tokens + other).alias("bpe_tokens")


def html_text_expr(html: Column) -> Column:
    """HTML -> visible text as a pure codegen regexp chain (no parser
    library, no Python per row — the WARC->text hot path at 100 TB must
    stay inside whole-stage codegen).

    Steps: drop comments FIRST (a commented-out <script> opener must not
    arm the script pattern — it would consume visible text through the
    next real </script>), then the <head>/<script>/<style> subtrees,
    turn block-level tags into newlines, strip remaining tags, unescape
    the named entities &lt; &gt; &quot; &#39;/&apos; &nbsp; and (last,
    so it can't re-trigger) &amp;, then collapse horizontal whitespace
    and blank lines. Patterns avoid backreferences so the same chain
    runs on RE2 engines (the DuckDB oracle). Known tradeoff of the
    ordering: an UNclosed '<!--' inside script code (e.g. the legacy
    comment-hiding idiom without '-->') keeps its script text."""
    x = F.regexp_replace(html, r"(?s)<!--.*?-->", " ")
    x = F.regexp_replace(x, r"(?is)<head\b[^>]*>.*?</head\s*>", " ")
    x = F.regexp_replace(x, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    x = F.regexp_replace(x, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    x = F.regexp_replace(
        x,
        r"(?i)</?(p|br|div|li|ul|ol|tr|td|th|table|h[1-6]|section|article"
        r"|header|footer|blockquote|pre|form)\b[^>]*>",
        "\n",
    )
    x = F.regexp_replace(x, r"(?s)<[^>]*>", " ")
    for ent, rep in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&apos;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        x = F.replace(x, F.lit(ent), F.lit(rep))
    x = F.regexp_replace(x, r"[ \t\r\f]+", " ")
    x = F.regexp_replace(x, r" ?\n ?", "\n")
    x = F.regexp_replace(x, r"\n{2,}", "\n")
    # trim() strips spaces only — strip newlines at the edges explicitly
    return F.regexp_replace(x, r"^[ \n]+|[ \n]+$", "")


def extract_html_text(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Per-document HTML text extraction: (id, text). The trafilatura-ish
    step of a crawl pipeline, reduced to what a regexp chain can promise:
    tag/script/comment removal + named-entity unescape + whitespace
    normalization. Numeric character references beyond &#39; pass
    through unchanged (documented surface, not a gate)."""
    return df.select(
        F.col(id_col), html_text_expr(F.col(html_col)).alias("text")
    )


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document stats: chars, whitespace tokens, avg token length,
    distinct-token ratio (type/token)."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(F.length(F.regexp_replace(t, r"\s+", "")) / n_tok.cast("double"), 4).alias(
            "avg_token_len"
        ),
        F.round(F.size(F.array_distinct(toks)) / n_tok.cast("double"), 4).alias(
            "distinct_ratio"
        ),
        bpe_ish_token_count(t).alias("bpe_tokens"),
    )


def quality_expr(t: Column) -> Column:
    """Heuristic quality in [0,1] as a pure column expression: blend of
    length band, mean token length band, and stopword presence — the
    standard cheap pre-filter shape for pretraining corpora (cf.
    C4/Gopher rules); weights are illustrative."""
    toks = tokens(t)
    n_tok = F.size(toks).cast("double")
    mean_len = F.length(F.regexp_replace(t, r"\s+", "")) / n_tok
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORD_PROFILES["en"]]))
    ).cast("double")
    len_band = F.when((n_tok >= 10) & (n_tok <= 10000), 1.0).otherwise(0.3)
    tok_band = F.when((mean_len >= 2.5) & (mean_len <= 12), 1.0).otherwise(0.4)
    stop_band = F.least(stop_hits / 3.0, F.lit(1.0))
    return F.round(0.4 * len_band + 0.3 * tok_band + 0.3 * stop_band, 4)


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document heuristic quality (see quality_expr)."""
    return df.select(F.col(id_col), quality_expr(F.col(text_col)).alias("quality"))


def lang_pred_expr(t: Column) -> Column:
    """Stopword-profile language ID as a pure column expression: score =
    distinct stopwords of each profile present in the token set; argmax
    wins, 'und' (undetermined) if all scores are 0. One expression tree
    per language — a single codegen pass, no shuffle."""
    toks = F.array_distinct(tokens(t))
    scores = [
        (
            lang,
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))),
        )
        for lang, words in STOPWORD_PROFILES.items()
    ]
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    # build argmax with first-profile-wins ties (dict order is stable)
    for lang, s in reversed(scores):
        pred = F.when(s == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("und"))


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document language ID (see lang_pred_expr)."""
    return df.select(F.col(id_col), lang_pred_expr(F.col(text_col)).alias("lang_pred"))


def clean_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_quality: float = 0.7,
    lang: str = "en",
) -> DataFrame:
    """The composed corpus-cleaning pass a pretraining pipeline runs:
    exact dedup (keep lowest id per content hash) -> quality score ->
    language ID -> token budget, filtered to quality >= min_quality in
    the target language.

    Plan shape (the part that matters at 100 TB): ONE scan of the corpus
    and ONE shuffle total — dedup is a single min(struct) hash-aggregate
    with map-side partials, then every per-document metric — quality,
    language, BPE-ish token estimate — is computed in a single
    whole-stage-codegen projection over the surviving rows; the metrics
    never cause a second scan or shuffle. Returns
    (id_col, quality, lang_pred, bpe_tokens)."""
    metrics = corpus_metrics(df, id_col, text_col)
    # lazy materialization barrier: without it, predicate pushdown
    # substitutes the (expensive) quality/lang expressions into the
    # filter BELOW this projection — every metric is then evaluated twice
    # per row, and a downstream orderBy's range-sampling job re-executes
    # the whole pipeline a third time. The barrier materializes the
    # narrow (id + 3 numbers) output once — tiny relative to the text it
    # derives from — and measured ~3x faster end-to-end at sf0.1 (fresh
    # plan per run; checkpoints don't reuse across runs). The one-scan /
    # one-shuffle shape of the pipeline itself is asserted on
    # corpus_metrics in tests/test_plans.py.
    metrics = metrics.localCheckpoint(eager=False)
    return metrics.filter(
        (F.col("quality") >= min_quality) & (F.col("lang_pred") == lang)
    )


def corpus_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The un-barriered clean_corpus pipeline: exact dedup then every
    per-document metric in ONE whole-stage-codegen projection — one scan,
    one shuffle."""
    from graph_db_clustering_spark.operators.dedup import distinct_documents

    kept = distinct_documents(df.select(id_col, text_col), id_col, text_col)
    t = F.col(text_col)
    return kept.select(
        F.col(id_col),
        quality_expr(t).alias("quality"),
        lang_pred_expr(t).alias("lang_pred"),
        bpe_ish_token_count(t).alias("bpe_tokens"),
    )


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Gopher-style intra-document repetition signal: the fraction of a
    document's word n-grams that are duplicates of an earlier n-gram in
    the same document (rules like "drop if >18% duplicated 3-grams",
    Rae et al. 2021 §A1.1). Returns (id_col, n_grams, dup_ngram_ratio).

    Pure codegen — the n-gram array is built with transform+slice (see
    traindata.word_ngrams) and the duplicate ratio is
    1 - distinct/total, all inside one projection; a 100 TB corpus pass
    adds no shuffle."""
    from graph_db_clustering_spark.operators.traindata import word_ngrams

    grams = word_ngrams(F.col(text_col), n)
    total = F.size(grams)
    return df.select(
        F.col(id_col),
        total.cast("bigint").alias("n_grams"),
        F.when(total > 0, F.round(1.0 - F.size(F.array_distinct(grams)) / total, 4))
        .otherwise(0.0)
        .alias("dup_ngram_ratio"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text. Collision-level dedup key portable across engines."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return df.select(F.col(id_col), F.md5(norm).alias("fp"))


def split_sentences(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """UDTF-shaped op, Catalyst-expressible: one row per sentence with its
    position — posexplode of a regex split (terminator kept with the
    sentence). Stays in codegen; the rolling-hash chunker below is the op
    that genuinely needs Python."""
    sentences = F.split(F.col(text_col), r"(?<=[.!?])\s+")
    return df.select(
        F.col(id_col), F.posexplode(sentences).alias("sentence_idx", "sentence")
    ).filter(F.length(F.trim(F.col("sentence"))) > 0)


# rolling-hash parameters for content-defined chunking (Rabin-style):
# window w, base b, chunk boundary when hash % modulus == 0
_CDC_BASE = 257
_CDC_WINDOW = 16
_CDC_MASK = (1 << 61) - 1


def chunk_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_chunk: int = 64,
    min_chunk: int = 16,
) -> DataFrame:
    """Content-defined chunking via a Rabin-style rolling hash — the
    partial-overlap dedup primitive (two documents sharing a paragraph
    share its chunk fingerprints even when byte offsets differ, which
    fixed-size blocks cannot do). A per-position data-dependent state
    machine is not expressible in Catalyst, so this is the UDTF surface
    (SURVEY §2.11): a Python UDTF yielding (chunk_idx, chunk_hash,
    chunk_len) per document; Spark plans it as a lateral join.

    Boundary rule: position is a cut when rolling_hash % target_chunk == 0
    and the chunk has >= min_chunk bytes; expected chunk size ~=
    target_chunk bytes. Chunk hash = crc32 (stable across processes)."""
    import zlib

    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk_hash bigint, chunk_len int")
    class Chunker:
        def eval(self, text: str):  # noqa: D102
            if text is None:
                return
            data = text.encode("utf-8", errors="replace")
            h, start, idx = 0, 0, 0
            pow_w = pow(_CDC_BASE, _CDC_WINDOW, _CDC_MASK + 1)
            for i, byte in enumerate(data):
                h = (h * _CDC_BASE + byte) & _CDC_MASK
                if i >= _CDC_WINDOW:
                    h = (h - data[i - _CDC_WINDOW] * pow_w) & _CDC_MASK
                if (i + 1 - start) >= min_chunk and h % target_chunk == 0:
                    chunk = data[start : i + 1]
                    yield idx, zlib.crc32(chunk), len(chunk)
                    idx, start = idx + 1, i + 1
            if start < len(data):
                chunk = data[start:]
                yield idx, zlib.crc32(chunk), len(chunk)

    return df.lateralJoin(
        Chunker(F.col(text_col).outer())  # one UDTF call per document row
    ).select(F.col(id_col), "chunk_idx", "chunk_hash", "chunk_len")


def c4_rule_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C4-style hard-rule filter flags (Raffel et al. 2020 §2.2 cleanup
    heuristics, document-level analogs): one boolean column per rule plus
    the combined `kept` verdict. Pure whole-stage-codegen projection —
    zero shuffle, zero Python — so at 100 TB this is scan-speed.

    Rules (true = violation):
      r_lorem     boilerplate placeholder text ("lorem ipsum")
      r_brace     curly brace (code, not prose — C4 drops pages with '{')
      r_js        "javascript" (cookie/enable-JS boilerplate)
      r_short     fewer than 5 whitespace words
      r_longword  any word over 50 chars (URLs/base64 junk)
      r_endpunct  document does not end in terminal punctuation . ! ? "
    kept = no rule fires."""
    t = F.col(text_col)
    low = F.lower(t)
    toks = tokens(t)
    word_lens = F.transform(toks, F.length)
    rules = {
        "r_lorem": low.contains("lorem ipsum"),
        "r_brace": t.contains("{"),
        "r_js": low.contains("javascript"),
        "r_short": F.size(toks) < 5,
        "r_longword": F.array_max(word_lens) > 50,
        "r_endpunct": ~F.trim(t).rlike('[.!?"]$'),
    }
    cols = [F.coalesce(expr, F.lit(False)).alias(name) for name, expr in rules.items()]
    kept = None
    for name in rules:
        v = ~F.col(name)
        kept = v if kept is None else kept & v
    return df.select(F.col(id_col), *cols).withColumn("kept", kept)


def chunk_by_sentences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_tokens: int = 64,
) -> DataFrame:
    """RAG-prep chunking: split each document into sentences (the
    split_sentences terminator-keeping regex), then greedily pack
    consecutive sentences into chunks of at most max_tokens whitespace
    tokens — a sentence that alone exceeds the budget becomes its own
    (oversized) chunk, the standard behavior. Returns one row per chunk:
    (id_col, chunk_idx, chunk_text, n_tokens).

    Plan shape: the whole pack is ONE F.aggregate fold over the per-row
    sentence array (struct accumulator: closed chunks + the open chunk
    and its token count) inside whole-stage codegen, then a posexplode —
    no UDF, no shuffle beyond the explode; per-document work is linear
    in its sentences, so 100 TB of documents chunk in a single map
    stage."""
    sentences = F.filter(
        F.split(F.col(text_col), r"(?<=[.!?])\s+"),
        lambda s: F.length(F.trim(s)) > 0,
    )
    toks = lambda s: F.size(F.split(F.trim(s), r"\s+"))  # noqa: E731
    empty_chunks = F.array().cast("array<array<string>>")
    empty_cur = F.array().cast("array<string>")
    init = F.struct(
        empty_chunks.alias("chunks"),
        empty_cur.alias("cur"),
        F.lit(0).alias("cur_toks"),
    )

    def step(acc, s):
        n = toks(s)
        overflow = (acc["cur_toks"] + n > max_tokens) & (F.size(acc["cur"]) > 0)
        return F.struct(
            F.when(overflow, F.concat(acc["chunks"], F.array(acc["cur"])))
            .otherwise(acc["chunks"])
            .alias("chunks"),
            F.when(overflow, F.array(s))
            .otherwise(F.concat(acc["cur"], F.array(s)))
            .alias("cur"),
            F.when(overflow, n).otherwise(acc["cur_toks"] + n).alias("cur_toks"),
        )

    def finish(acc):
        return F.when(
            F.size(acc["cur"]) > 0, F.concat(acc["chunks"], F.array(acc["cur"]))
        ).otherwise(acc["chunks"])

    chunks = F.aggregate(sentences, init, step, finish)
    out = df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "sents"),
    )
    return out.select(
        id_col,
        "chunk_idx",
        F.concat_ws(" ", F.col("sents")).alias("chunk_text"),
        F.size(F.split(F.concat_ws(" ", F.col("sents")), r"\s+")).alias("n_tokens"),
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 (Robertson/Sparck Jones) relevance of every document to a
    query string — the standard lexical-retrieval scorer (the other half
    of a RAG stack next to the ANN path). Returns (id_col, score) for
    documents matching >= 1 query term.

    Plan shape at 100 TB: the explode is FILTERED to the query's terms
    before any aggregation, so the heavy per-(doc, term) counting only
    touches postings of the handful of query terms; document length and
    its corpus average are one cheap aggregate; the per-term document
    frequencies (<= |query| rows) broadcast back. Two shuffles total
    (tf groupBy, final per-doc sum), both keyed on doc id.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (the non-negative variant);
    tf component = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))."""
    q_terms = sorted({w for w in query.lower().split() if w})
    if not q_terms:
        raise ValueError("bm25: empty query")
    base = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )
    stats = base.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("toks")).alias("avgdl")
    )
    posting = (
        base.select("id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
        .filter(F.col("term").isin(q_terms))
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = posting.groupBy("term").agg(F.countDistinct("id").alias("df"))
    scored = (
        posting.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    return (
        scored.groupBy("id")
        .agg(F.sum("w").alias("score"))
        .select(F.col("id").alias(id_col), "score")
    )


def unigram_logprob_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    smoothing: float = 1.0,
) -> DataFrame:
    """Perplexity-style quality scoring with a corpus-trained unigram
    LM (the cheap analog of CCNet's KenLM filter, Wenzek et al. 2020):
    estimate add-k-smoothed unigram probabilities from the corpus
    itself, then score each document by its mean token log-probability —
    unusually "surprising" documents (gibberish, wrong language, boiler
    noise) sit in the low tail and quantile cuts select against them.

    Returns (id_col, n_tokens, avg_logprob). Plan: one explode ->
    term-count aggregate (the LM), one term-keyed join back, one per-doc
    average — all equi-keyed shuffles; the LM table is (vocab) rows, far
    smaller than the corpus, and joins on the term key (no broadcast
    assumption: web-scale vocabularies don't fit one executor)."""
    base = df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term"))
    lm = base.groupBy("term").agg(F.count("*").alias("freq"))
    totals = lm.agg(
        F.sum("freq").alias("total"), F.count("*").alias("vocab")
    )
    scored = (
        base.join(lm, "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "logp",
            F.log(
                (F.col("freq") + F.lit(smoothing))
                / (F.col("total") + F.lit(smoothing) * F.col("vocab"))
            ),
        )
    )
    return (
        scored.groupBy("id")
        .agg(F.count("*").alias("n_tokens"), F.avg("logp").alias("avg_logprob"))
        .select(F.col("id").alias(id_col), "n_tokens", "avg_logprob")
    )


def bigram_logprob_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lam: float = 0.7,
    smoothing: float = 1.0,
) -> DataFrame:
    """Interpolated bigram-LM mean log-probability per document — one
    rung up the KenLM ladder from `unigram_logprob_scores`: P(w|prev) =
    lam * c(prev,w)/c(prev,*) + (1-lam) * P_add-k-unigram(w). Word salad
    that sneaks past a unigram filter (real words, impossible
    transitions) sits in the low tail here.

    Returns (id_col, n_bigrams, avg_logprob); documents with fewer than
    two tokens carry no bigram and drop out.

    Scale shape: the bigram positions come from ONE codegen pass
    (arrays_zip of the two token-array slices, then explode — no
    self-join, no window). The model tables — bigram counts, left-context
    totals, unigram counts — are each a hash aggregate of that pass, and
    every score lookup is a TERM-KEYED shuffle join: a web-scale bigram
    table is far too big to broadcast, and nothing here assumes it fits
    anywhere. Only the 1-row (total, vocab) aggregate broadcasts."""
    toks = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("w")
    )
    n = F.size("w")
    base = toks.filter(n >= 2).select(
        "id",
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, n - 1).alias("prev"),
                F.slice("w", 2, n - 1).alias("cur"),
            )
        ).alias("bg"),
    ).select("id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
    big = base.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    ctx = base.groupBy("prev").agg(F.count("*").alias("cctx"))
    uni = (
        toks.select(F.explode("w").alias("cur"))
        .groupBy("cur")
        .agg(F.count("*").alias("c1"))
    )
    totals = uni.agg(F.sum("c1").alias("total"), F.count("*").alias("vocab"))
    scored = (
        base.join(big, ["prev", "cur"])
        .join(ctx, "prev")
        .join(uni, "cur")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "logp",
            F.log(
                F.lit(lam) * F.col("c2") / F.col("cctx")
                + F.lit(1.0 - lam)
                * (F.col("c1") + F.lit(smoothing))
                / (F.col("total") + F.lit(smoothing) * F.col("vocab"))
            ),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg("logp").alias("avg_logprob"),
        )
        .select(F.col("id").alias(id_col), "n_bigrams", "avg_logprob")
    )


# ---------------------------------------------------------------------------
# BPE tokenizer — train on a distributed word-frequency table, encode in
# Arrow batches
# ---------------------------------------------------------------------------


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 200,
    top_words: int = 32768,
) -> list[tuple[str, str]]:
    """Learn byte-pair-encoding merges from a corpus (Sennrich et al.
    2016). Returns the ranked merge list for bpe_encode.

    Scale shape (how HF `tokenizers` trains too): the only corpus-sized
    work is ONE distributed word-count — explode on whitespace, hash
    aggregate with map-side partials — reduced to the top_words most
    frequent words (TakeOrdered, k rows to the driver). Merge learning
    then iterates over that bounded weighted word table driver-side:
    at 100 TB the counting pass dominates and distributes; the merge
    loop is O(n_merges * top_words * avg_len) regardless of corpus
    size. Ties break (count desc, pair asc) so training is deterministic
    and partitioning-invariant (test-pinned)."""
    # explicit ASCII whitespace class: Java \s, Python str.split(), and
    # the DuckDB oracle's strip all disagree on \x0b/\xa0/U+2028 — one
    # class shared by bpe_train, bpe_encode, and the bpe_tokens oracle
    # keeps the losslessness contract exact on any input
    wc = (
        df.select(
            F.explode(F.split(F.col(text_col), r"[ \t\n\r\f]+")).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(top_words)
        .collect()
    )
    words: list[tuple[list[str], int]] = [(list(r.w), int(r.c)) for r in wc]
    merges: list[tuple[str, str]] = []
    from collections import Counter

    for _ in range(n_merges):
        pair_counts: Counter = Counter()
        for syms, c in words:
            for i in range(len(syms) - 1):
                pair_counts[(syms[i], syms[i + 1])] += c
        if not pair_counts:
            break
        pair, cnt = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break  # nothing left worth merging
        merges.append(pair)
        a, b = pair
        ab = a + b
        for syms, _ in words:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i : i + 2] = [ab]
                else:
                    i += 1
    return merges


def _bpe_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply ranked merges to one word — the standard greedy loop: at
    each step merge every (left-to-right, non-overlapping) occurrence of
    the lowest-ranked adjacent pair present."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for i in range(len(syms) - 1):
            pair = (syms[i], syms[i + 1])
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, pair
        if best_pair is None:
            break
        a, b = best_pair
        ab = a + b
        i = 0
        while i < len(syms) - 1:
            if syms[i] == a and syms[i + 1] == b:
                syms[i : i + 2] = [ab]
            else:
                i += 1
    return syms


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Tokenize with a trained merge list -> (id, tokens array<string>,
    n_tokens). One Arrow-batched mapInPandas pass; the merge table
    (n_merges entries) rides the closure — broadcast-sized by
    construction. Per-task word cache exploits the Zipfian word
    distribution (most occurrences are cache hits). Tokenization is
    lossless by construction: tokens of a word concatenate back to the
    word, so concat(tokens) == whitespace-stripped text — the
    ground-truth oracle `bpe_tokens` is checked on."""
    import pandas as pd
    from pyspark.sql import types as T

    ranks = {p: i for i, p in enumerate(merges)}
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("tokens", T.ArrayType(T.StringType())),
            T.StructField("n_tokens", T.IntegerType()),
        ]
    )

    import re

    ws = re.compile(r"[ \t\n\r\f]+")  # the SAME class bpe_train splits on

    def encode(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            ids, toks_col, counts = [], [], []
            for rid, text in zip(pdf["id"], pdf["text"]):
                toks: list[str] = []
                for w in ws.split(str(text)):
                    if not w:
                        continue
                    got = cache.get(w)
                    if got is None:
                        if len(cache) >= 65536:
                            cache.clear()  # bound task memory
                        cache[w] = got = _bpe_word(w, ranks)
                    toks.extend(got)
                ids.append(int(rid))
                toks_col.append(toks)
                counts.append(len(toks))
            yield pd.DataFrame({"id": ids, "tokens": toks_col, "n_tokens": counts})

    narrow = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    return narrow.mapInPandas(encode, out_schema)


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rule_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 §A1.1) as one codegen
    projection — per-rule booleans (True = violates) + combined `kept`:

      g_wc        word count outside [50, 100000]
      g_mwl       mean word length outside [3, 10]
      g_symbol    '#'/'...' symbol-to-word ratio > 0.1
      g_alpha     < 80% of words contain an alphabetic character
      g_bullet    > 90% of lines start with a bullet ('-' or '*')
      g_ellipsis  > 30% of lines end with '...'
      g_stop      fewer than 2 of the 8 required stopwords present

    Complements c4_rule_flags (hard C4 rules); both are zero-shuffle
    single-pass filters a pretraining pipeline composes."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks).cast("double")
    mwl = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, s: a + F.length(s)
    ) / n_tok
    symbols = (
        F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
        + F.size(F.regexp_extract_all(t, F.lit(r"\.\.\."), 0))
    )
    alpha_words = F.size(F.filter(toks, lambda s: s.rlike("[A-Za-z]")))
    lines = F.split(t, r"\n")
    n_lines = F.size(lines).cast("double")
    bullet_lines = F.size(F.filter(lines, lambda s: F.trim(s).rlike("^[-*]")))
    ellipsis_lines = F.size(F.filter(lines, lambda s: s.rlike(r"\.\.\.$")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    flags = {
        "g_wc": (n_tok < 50) | (n_tok > 100000),
        "g_mwl": (mwl < 3) | (mwl > 10),
        "g_symbol": symbols / n_tok > 0.1,
        "g_alpha": alpha_words / n_tok < 0.8,
        "g_bullet": bullet_lines / n_lines > 0.9,
        "g_ellipsis": ellipsis_lines / n_lines > 0.3,
        "g_stop": stop_hits < 2,
    }
    kept = None
    cols = [F.col(id_col)]
    for name, expr in flags.items():
        b = F.coalesce(expr, F.lit(False))
        cols.append(b.alias(name))
        kept = b if kept is None else (kept | b)
    cols.append((~kept).alias("kept"))
    return df.select(*cols)


def dedup_lines(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Remove repeated lines WITHIN each document, keeping the first
    occurrence in order (the intra-doc half of Gopher/RefinedWeb line
    dedup — boilerplate nav/footer lines repeat inside a page).
    array_distinct preserves first-occurrence order, so the whole
    operator is one codegen projection: split -> distinct -> rejoin."""
    return df.select(
        F.col(id_col),
        F.array_join(
            F.array_distinct(F.split(F.col(text_col), r"\n")), "\n"
        ).alias("text"),
    )


def tfidf_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 100,
) -> DataFrame:
    """TF-IDF over a deterministic top-df vocabulary -> one
    (id, term, tf, tfidf) row per (document, vocabulary term) pair.

    Vocabulary = the vocab_size terms with the highest document
    frequency (ties break term-ascending), so the feature space is
    data-derived yet deterministic and partitioning-invariant. idf uses
    the smoothed convention ln((1+N)/(1+df)) + 1 (sklearn's default),
    which never divides by zero and keeps in-vocabulary terms positive.

    Scale shape: one explode+distinct aggregate for document
    frequencies (map-side partials), top-k vocabulary via
    TakeOrderedAndProject (vocab_size rows to the driver — these ARE
    the broadcast dimension), then term counts per doc filtered to the
    broadcast vocabulary BEFORE aggregation, so only vocabulary
    postings shuffle (the bm25_scores plan discipline)."""
    n_docs = df.count()
    terms = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).where(F.col("term") != "")
    dfreq = (
        terms.distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(vocab_size)
    )
    idf = dfreq.select(
        "term",
        "df",
        (F.log((F.lit(1.0) + n_docs) / (F.lit(1.0) + F.col("df"))) + 1.0).alias(
            "idf"
        ),
    )
    tf = (
        terms.join(F.broadcast(idf), "term")
        .groupBy("id", "term", "idf")
        .agg(F.count("*").alias("tf"))
    )
    return tf.select(
        F.col("id").alias(id_col),
        "term",
        "tf",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )


def normalize_unicode(
    df: DataFrame, id_col: str, text_col: str, form: str = "NFC"
) -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) -> (id, text). Crawl
    text arrives in mixed normalization (decomposed accents from macOS
    uploads, compatibility ligatures, full-width forms); exact dedup and
    n-gram ops silently miss equal-looking strings until the corpus is
    normalized. Spark has no built-in normalizer, so this is one
    Arrow-batched mapInPandas over stdlib unicodedata — a justified
    Python crossing (the oracle checks it against DuckDB's independent
    nfc_normalize implementation)."""
    import unicodedata

    import pandas as pd
    from pyspark.sql import types as T

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    def norm(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "text": [
                        unicodedata.normalize(form, str(t)) for t in pdf["text"]
                    ],
                }
            )

    narrow = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    out_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("text", T.StringType())]
    )
    return narrow.mapInPandas(norm, out_schema).select(
        F.col("id").alias(id_col), "text"
    )


def extract_pdf_text(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """PDF binary column -> (id, text) via the pure-Python extractor
    (functions/pdf: Flate/raw content streams, Tj/TJ/' operators,
    standard escapes; scoped gates for CID fonts/encryption/LZW). One
    Arrow-batched pass — PDFs decode where their bytes were read."""
    import pandas as pd
    from pyspark.sql import types as T

    from graph_db_clustering_spark.functions import pdf as pdf_codec

    def extract(batches):
        for pdf_batch in batches:
            ids, texts = [], []
            for rid, content in zip(pdf_batch["id"], pdf_batch["content"]):
                ids.append(int(rid))
                texts.append(pdf_codec.extract_text(bytes(content)))
            yield pd.DataFrame({"id": ids, "text": texts})

    narrow = df.select(
        F.col(id_col).alias("id"), F.col(content_col).alias("content")
    )
    out_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("text", T.StringType())]
    )
    return narrow.mapInPandas(extract, out_schema).select(
        F.col("id").alias(id_col), "text"
    )


def extract_document(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Format-sniffing document extraction: each binary payload routes by
    magic — %PDF -> the PDF extractor, '<'-leading markup -> the HTML
    chain, anything else decodes as UTF-8 plain text (errors replaced).
    One Arrow pass; returns (id, format, text). The front door a mixed
    crawl dump goes through before the text pipeline."""
    import pandas as pd
    from pyspark.sql import types as T

    from graph_db_clustering_spark.functions import pdf as pdf_codec

    def extract(batches):
        for b in batches:
            ids, fmts, texts = [], [], []
            for rid, content in zip(b["id"], b["content"]):
                raw = bytes(content)
                ids.append(int(rid))
                if raw.startswith(b"%PDF-"):
                    # one unextractable PDF (encrypted, LZW, corrupt Flate)
                    # must not kill the job — the front door marks it and
                    # moves on (the probe discipline)
                    try:
                        texts.append(pdf_codec.extract_text(raw))
                        fmts.append("pdf")
                    except (ValueError, NotImplementedError):
                        texts.append("")
                        fmts.append("pdf-error")
                elif raw.lstrip()[:1] == b"<":
                    fmts.append("html")
                    texts.append(raw.decode("utf-8", errors="replace"))
                else:
                    fmts.append("text")
                    texts.append(raw.decode("utf-8", errors="replace"))
            yield pd.DataFrame({"id": ids, "format": fmts, "text": texts})

    narrow = df.select(
        F.col(id_col).alias("id"), F.col(content_col).alias("content")
    )
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("format", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    routed = narrow.mapInPandas(extract, out_schema)
    # HTML bodies get the codegen extraction chain AFTER the Python pass
    # (the chain is Catalyst, keep it out of the UDF)
    return routed.select(
        F.col("id").alias(id_col),
        "format",
        F.when(
            F.col("format") == "html", html_text_expr(F.col("text"))
        ).otherwise(F.col("text")).alias("text"),
    )


def decode_bytes(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Charset-sniffing byte decoding -> (id, encoding, text): crawl
    payloads arrive without trustworthy charset labels, so decode by
    evidence — BOMs first (UTF-8-sig / UTF-16 LE/BE), then strict UTF-8
    validation (a multi-byte sequence that validates is UTF-8 with
    near-certainty), then Latin-1 as the total fallback (every byte
    string decodes, matching how browsers treat legacy content). One
    Arrow pass; no per-row Python beyond the codec calls themselves."""
    import pandas as pd
    from pyspark.sql import types as T

    def decode(batches):
        for b in batches:
            ids, encs, texts = [], [], []
            for rid, content in zip(b["id"], b["content"]):
                raw = bytes(content)
                ids.append(int(rid))
                if raw[:3] == b"\xef\xbb\xbf":
                    encs.append("utf-8-sig")
                    texts.append(raw[3:].decode("utf-8", errors="replace"))
                elif raw[:2] in (b"\xff\xfe", b"\xfe\xff"):
                    enc = "utf-16-le" if raw[:2] == b"\xff\xfe" else "utf-16-be"
                    encs.append(enc)
                    texts.append(raw[2:].decode(enc, errors="replace"))
                else:
                    try:
                        texts.append(raw.decode("utf-8"))
                        encs.append("utf-8")
                    except UnicodeDecodeError:
                        encs.append("latin-1")
                        texts.append(raw.decode("latin-1"))
            yield pd.DataFrame({"id": ids, "encoding": encs, "text": texts})

    narrow = df.select(
        F.col(id_col).alias("id"), F.col(content_col).alias("content")
    )
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("encoding", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return narrow.mapInPandas(decode, out_schema).select(
        F.col("id").alias(id_col), "encoding", "text"
    )


def edit1_pairs(terms: DataFrame, term_col: str) -> DataFrame:
    """All UNORDERED pairs of distinct terms at Levenshtein distance
    exactly 1, by deletion-neighborhood blocking (the FastSS family,
    Bocek et al. 2007): every term emits itself plus each
    delete-one-character variant as a blocking key; two terms within
    one edit ALWAYS share a key (substitution -> the common deletion,
    insert/delete -> the shorter term itself), so the equi-join on the
    key is a complete candidate generator and the exact levenshtein
    filter only confirms. Returns (t1, t2, dist=1) with t1 < t2.

    Scale shape: a term of length L emits L+1 keys — the candidate
    join is keyed by short strings with vocabulary-bounded fan-out,
    never the all-pairs product the naive fuzzy join pays. The
    levenshtein() confirm runs only on candidates."""
    t = terms.select(F.col(term_col).alias("t")).distinct()
    keys = t.select(
        "t",
        F.explode(
            F.concat(
                F.array(F.col("t")),
                F.transform(
                    F.sequence(F.lit(1), F.length("t")),
                    lambda i: F.concat(
                        F.substring(F.col("t"), F.lit(1), i - 1),
                        F.col("t").substr(i + 1, F.length("t")),
                    ),
                ),
            )
        ).alias("k"),
    ).distinct()
    a = keys.select(F.col("t").alias("t1"), "k")
    b = keys.select(F.col("t").alias("t2"), "k")
    return (
        a.join(b, "k")
        .filter(F.col("t1") < F.col("t2"))
        .select("t1", "t2")
        .distinct()
        .filter(F.levenshtein("t1", "t2") == 1)
        .select("t1", "t2", F.lit(1).alias("dist"))
    )


def compression_ratio(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes) — the
    CCNet-family quality signal: repetitive boilerplate and generated
    spam compress far harder than natural prose, so a LOW ratio flags
    junk a perplexity filter misses. Arrow-batched (zlib per document
    inside mapInPandas; the codec is the work, Python is not the
    bottleneck). Returns (id_col, raw_len, comp_len, ratio)."""
    import zlib as _zlib

    import pandas as pd

    def score(batches):
        for pdf in batches:
            raw = [len(t.encode("utf-8")) if t else 0 for t in pdf[text_col]]
            comp = [
                len(_zlib.compress(t.encode("utf-8"), 6)) if t else 0
                for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_len": raw,
                    "comp_len": comp,
                    "ratio": [
                        (c / r) if r else None for c, r in zip(comp, raw)
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        score, f"{id_col} long, raw_len long, comp_len long, ratio double"
    )


def jaro_winkler(s1: str, s2: str) -> float:
    """Jaro-Winkler similarity (the standard variant: matching window
    max(|a|,|b|)/2 - 1, transpositions halved, prefix bonus up to 4
    chars * 0.1 applied when jaro > 0.7) — implemented from the public
    definition; the test suite pins it against DuckDB's independent
    jaro_winkler_similarity to the last double."""
    n1, n2 = len(s1), len(s2)
    if not n1 or not n2:
        return 0.0  # DuckDB's convention: an empty side scores 0
    if s1 == s2:
        return 1.0
    window = max(max(n1, n2) // 2 - 1, 0)
    m1 = [False] * n1
    m2 = [False] * n2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(n2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if not matches:
        return 0.0
    t = 0
    k = 0
    for i in range(n1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (matches / n1 + matches / n2 + (matches - t) / matches) / 3
    if j > 0.7:
        l = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            l += 1
        j = j + l * 0.1 * (1 - j)
    return j


def fuzzy_name_pairs(
    df: DataFrame,
    key_col: str,
    name_col: str,
    block_cols: list,
    min_sim: float = 0.88,
) -> DataFrame:
    """Blocked fuzzy-duplicate candidates: self-join on the blocking
    key (never all-pairs — the 100 TB posture is that the block bounds
    the quadratic term), score each in-block pair with Jaro-Winkler in
    an Arrow-batched pandas UDF, keep pairs at or above `min_sim`
    (compared on the 6-decimal rounding so an engine's last-ulp
    difference cannot flap the boundary). Returns (key_1, key_2, sim),
    each unordered pair once (key_1 < key_2)."""
    import pandas as pd

    left = df.select(
        F.col(key_col).alias("key_1"),
        F.col(name_col).alias("__n1"),
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
    )
    right = df.select(
        F.col(key_col).alias("key_2"),
        F.col(name_col).alias("__n2"),
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
    )
    pairs = left.join(
        right,
        on=[f"__b_{c}" for c in block_cols],
        how="inner",
    ).filter(F.col("key_1") < F.col("key_2"))

    def score(batches):
        import numpy as np

        # Vectorized NECESSARY-condition prefilter (round 10): with
        # c = common character multiset count, any pair at
        # jw >= min_sim satisfies c/n1 + c/n2 >= 5*min_sim - 3
        # (jw <= 0.4 + 0.6*j from the max 4-char prefix bonus, and
        # j <= (m/n1 + m/n2 + 1)/3 with matches m <= c). The bound is
        # provably loose-side only — it can never drop a true pair —
        # and kills ~88% of in-block candidates before the Python
        # scorer runs (measured on TPC-H part names).
        bound = 5.0 * min_sim - 3.0

        def _counts(names):
            uniq, inv = np.unique(names, return_inverse=True)
            mat = np.zeros((len(uniq), 128), dtype=np.int16)
            for i, u in enumerate(uniq):
                b = np.frombuffer(u.encode("utf-8"), dtype=np.uint8)
                mat[i] = np.bincount(np.minimum(b, 127), minlength=128)
            return mat, inv

        for pdf in batches:
            n1 = pdf["__n1"].fillna("").to_numpy(dtype=object)
            n2 = pdf["__n2"].fillna("").to_numpy(dtype=object)
            if bound > 0 and len(pdf):
                m1, i1 = _counts(n1)
                m2, i2 = _counts(n2)
                l1 = np.array([len(x) for x in n1], dtype=np.float64)
                l2 = np.array([len(x) for x in n2], dtype=np.float64)
                keep = np.zeros(len(pdf), dtype=bool)
                for lo in range(0, len(pdf), 65536):  # bound the temp
                    hi = min(lo + 65536, len(pdf))
                    c = np.minimum(
                        m1[i1[lo:hi]], m2[i2[lo:hi]]
                    ).sum(axis=1)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        r = np.where(
                            (l1[lo:hi] > 0) & (l2[lo:hi] > 0),
                            c / l1[lo:hi] + c / l2[lo:hi],
                            0.0,
                        )
                    keep[lo:hi] = r >= bound
                pdf = pdf[keep]
                n1, n2 = n1[keep], n2[keep]
            sims = [
                round(jaro_winkler(a or "", b or ""), 6)
                for a, b in zip(n1, n2)
            ]
            out = pd.DataFrame(
                {"key_1": pdf["key_1"], "key_2": pdf["key_2"], "sim": sims}
            )
            yield out[out["sim"] >= min_sim]

    return pairs.select("key_1", "key_2", "__n1", "__n2").mapInPandas(
        score, "key_1 long, key_2 long, sim double"
    )
