"""Text-analysis operators for training-data pipelines.

Language ID (stopword-hit heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and TF-IDF — all pure column
expressions over `documents`, zero Python in the hot path. These are
the per-document map stage of a corpus pipeline: embarrassingly
parallel, no shuffle except the final reporting aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from elb_log_to_mysql_spark.operators.dedup import ws_tokens
from elb_log_to_mysql_spark.session import ensure_min_partitions, unpersist_on_gc

# Tiny per-language stopword lists for the n-gram/stopword-hit
# heuristic language classifier. Deliberately small: the classifier
# is a deterministic, SQL-expressible heuristic, not a model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"],
}

# BPE-ish word/number/symbol tokenizer (same regex both engines).
BPE_ISH = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _ws_tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), " ")


def _occurrence_hits(toks: Column, words: list[str]) -> Column:
    """Count OCCURRENCES of `words` among `toks` (multiplicity kept)
    as a codegen-capable expression: size(toks) minus size(toks with
    every listed word removed). array_remove strips all copies of one
    value, so chaining it over the list subtracts exactly the listed
    words' occurrences — unlike array_intersect/array_except, which
    dedupe and would undercount repeated stopwords. Replaces the
    `size(filter(toks, t -> t.isin(...)))` lambda form, whose
    CodegenFallback forced the enclosing stage into interpreted eval
    (the round-10 cold-start finding, SCALE.md)."""
    removed = toks
    for w in words:
        removed = F.array_remove(removed, w)
    return F.size(toks) - F.size(removed)


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-document quality metrics + a composite quality score.

    The score is the standard cheap-filter recipe (length band,
    punctuation ratio, stopword ratio) used to pre-filter web corpora
    before expensive model-based scoring.
    """
    toks = _ws_tokens(F.col("text"))
    n_tok = F.size(toks)
    n_chars = F.length("text")
    punct = F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", ""))
    stop_hits = _occurrence_hits(toks, STOPWORDS["en"])
    avg_tok_len = F.when(
        n_tok > 0, (n_chars - (n_tok - 1)) / n_tok
    ).otherwise(F.lit(0.0))

    # No F.round on plain double expressions anywhere in oracle-checked
    # output: int/int division and literal sums are bit-identical IEEE
    # ops in Spark and DuckDB, while round() diverges on repr ties
    # (Spark rounds the shortest decimal repr, DuckDB the binary value).
    scored = ensure_min_partitions(documents).select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars_m"),
        avg_tok_len.alias("avg_token_len"),
        (punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (stop_hits / F.greatest(n_tok, F.lit(1))).alias("stopword_ratio"),
    )
    return scored.withColumn(
        "quality_score",
        F.when((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 5000), 0.4)
        .otherwise(0.0)
        + F.when(F.col("punct_ratio") < 0.2, 0.3).otherwise(0.0)
        + F.when(F.col("stopword_ratio") > 0.05, 0.3).otherwise(0.0),
    )


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace and BPE-ish token counts, per doc + per-lang totals.

    The BPE-ish count (letters runs / digit runs / single symbols) is
    the cheap proxy for LLM token cost used when budgeting corpora.
    """
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH), 0))
    per_doc = ensure_min_partitions(documents).select(
        "doc_id", "lang", ws.alias("ws_tokens"), bpe.alias("bpe_tokens")
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
        F.min("bpe_tokens").alias("min_bpe_tokens"),
        F.max("bpe_tokens").alias("max_bpe_tokens"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Heuristic language ID: argmax of stopword hits per language.

    Deterministic tie-break: higher hit count wins, then language code
    order (en < es < fr < de alphabetical? no — fixed list order).
    Emits predicted language + hit count per doc.
    """
    toks = _ws_tokens(F.col("text"))
    langs = list(STOPWORDS)

    hits = {
        lang: _occurrence_hits(toks, sw) for lang, sw in STOPWORDS.items()
    }
    best = F.greatest(*[hits[lang] for lang in langs])
    pred = F.lit("unknown")
    # walk in reverse so earlier langs win ties (first-match priority)
    for lang in reversed(langs):
        pred = F.when(hits[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("unknown"))

    return ensure_min_partitions(documents).select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        best.alias("stopword_hits"),
    )


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Content fingerprints: md5 canonical hash + 64-bit rolling
    polynomial hash over tokens (base-31 mod 2^61-1).

    The rolling hash is order-sensitive (md5 of normalized text is
    too, but the polynomial form supports incremental/windowed
    computation for chunk-level dedup later).
    """
    toks = _ws_tokens(F.col("text"))
    mersenne = F.lit((1 << 61) - 1).cast("long")
    rolling = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + F.pmod(F.xxhash64(t), mersenne)) % mersenne,
    )
    return ensure_min_partitions(documents).select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))).alias("md5_fp"),
        rolling.alias("rolling_fp"),
    )


def winnow_fingerprints(
    documents: DataFrame,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS algorithm): from each sliding window of `w` consecutive
    k-gram hashes, select the MINIMUM hash (rightmost occurrence on
    ties), then deduplicate selections. The scheme's guarantee: any
    shared token run of length >= w + k - 1 between two documents
    yields at least one shared (hash) fingerprint — so fingerprint
    equality is a sub-quadratic candidate generator for substring
    dedup, with density ~2/(w+1) fingerprints per token instead of
    the full positional index `substring_dup_spans` builds.

    All in-row: positional k-gram md5 fingerprints (md5, not
    xxhash64: the DuckDB oracle replays the SELECTION, which depends
    on hash ORDER, and md5 hex strings order identically in both
    engines), then per window an argmin fold biased rightmost (<=
    replaces on ties while scanning left-to-right), then distinct
    (pos, hash) selections explode. No shuffle until the caller
    groups or joins the fingerprints. HOF subtrees are let-bound (the
    word_shingles lesson: outer references re-evaluate per element).

    Returns (doc_id, pos, fp): pos is the 0-based k-gram position of
    each selected fingerprint (string md5). Docs shorter than
    w + k - 1 tokens emit nothing (no full window exists).
    """
    toks = _ws_tokens(F.col("text"))

    def _select(h: Column) -> Column:
        n_win = F.size(h) - (w - 1)
        # per window start i (1-based): rightmost argmin of h[i..i+w-1]
        picks = F.transform(
            F.sequence(F.lit(1), n_win),
            lambda i: F.aggregate(
                F.sequence(F.lit(0), F.lit(w - 1)),
                F.struct(
                    F.lit(-1).cast("long").alias("pos"),
                    F.lit(None).cast("string").alias("fp"),
                ),
                lambda best, j: F.when(
                    best.getField("fp").isNull()
                    | (F.element_at(h, (i + j).cast("int"))
                       <= best.getField("fp")),
                    F.struct(
                        (i + j - 1).cast("long").alias("pos"),
                        F.element_at(h, (i + j).cast("int")).alias("fp"),
                    ),
                ).otherwise(best),
            ),
        )
        return F.when(n_win > 0, F.array_distinct(picks)).otherwise(
            F.array().cast("array<struct<pos:long,fp:string>>")
        )

    def _grams(t: Column) -> Column:
        n_sh = F.size(t) - (k - 1)
        return F.when(
            n_sh > 0,
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.md5(F.concat_ws(" ", F.slice(t, i, k))),
            ),
        ).otherwise(F.array().cast("array<string>"))

    # let-bind tokens -> gram hashes -> selections (each evaluated once
    # per row; see word_shingles for why outer HOF references must not
    # be re-evaluated per element)
    hashed = ensure_min_partitions(documents).select(
        "doc_id",
        F.element_at(
            F.transform(
                F.array(F.element_at(F.transform(F.array(toks), _grams), 1)),
                _select,
            ),
            1,
        ).alias("picks"),
    )
    return hashed.select(
        "doc_id", F.explode("picks").alias("p")
    ).select("doc_id", F.col("p.pos").alias("pos"), F.col("p.fp").alias("fp"))


def tfidf(
    documents: DataFrame, vocab_size_min_df: int = 2, large_vocab: bool = False
) -> DataFrame:
    """TF-IDF weights per (doc, term) via explode + two aggregates.

    Explicit relational formulation (not MLlib's HashingTF) so the
    vocabulary and weights stay inspectable; one shuffle per aggregate,
    df filter prunes hapax terms before the join back.
    """
    n_docs = documents.count()  # driver scalar: one job, fine at any scale
    terms = ensure_min_partitions(documents).select(
        "doc_id", F.explode(_ws_tokens(F.col("text"))).alias("term")
    )
    # tf aggregates on (doc_id, term): balanced keys + map-side combine
    # shrink the raw exploded stream BEFORE any term-skewed movement.
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    if large_vocab:
        # When the vocabulary exceeds the broadcast threshold, ONE
        # repartition('term') serves BOTH downstream consumers — the
        # df aggregate and the tf⋈df join each see their clustering
        # requirement already satisfied (term ⊆ partition keys), so
        # neither adds an exchange. With a broadcastable vocabulary
        # (the default) AQE turns the join into a broadcast and the
        # repartition would be pure overhead — skip it.
        tf = tf.repartition("term")
    # tf feeds BOTH the df aggregate (broadcast build side) and the
    # join probe; without the persist the planner duplicated the whole
    # explode→aggregate chain (two full text passes — ReuseExchange
    # never fired on it, r15 measured). The broadcast build runs
    # first, materializing the cache the probe side then reads.
    tf = tf.persist()
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    df_ = df_.filter(F.col("df") >= vocab_size_min_df)
    out = (
        tf.join(df_, "term")
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
            ),
        )
        .select("doc_id", "term", "tf", "df", "tfidf")
    )
    return unpersist_on_gc(out, tf)


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Sliding token-window chunking — the pre-tokenization step every
    LLM training/RAG corpus build applies before packing or embedding:
    split each document into windows of `chunk_tokens` whitespace
    tokens advancing by `chunk_tokens - overlap` (so consecutive
    chunks share `overlap` tokens of context).

    Emits one row per chunk: (doc_id, chunk_idx, start_tok, n_tokens,
    chunk_text). The chunk count is ceil(max(n - overlap, 1) /
    stride): every chunk past the first contributes at least one new
    token, the final chunk may be short, and a document shorter than
    one window still yields exactly one chunk. Token-less documents
    yield no rows (explode of the empty chunk array).

    Shape at scale: tokens come from the codegen `ws_tokens` expression,
    bound to a real column so the chunk-building HOF (array-per-row —
    the justified HOF class, see _word_ngram_structs) evaluates the
    tokenization once per document; the explode is a Generate in the
    scan stage, no shuffle anywhere — chunking 100 TB is a pure map.
    (Round 10 unified the earlier stringy variant into this indexed,
    codegen-tokenized form; both gate entries share it.)
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    base = ensure_min_partitions(documents).select(
        "doc_id", ws_tokens(F.col("text")).alias("t")
    ).filter(F.size("t") >= 1)
    n = F.size("t")
    n_chunks = F.floor(
        (F.greatest(n - overlap, F.lit(1)) + (stride - 1)) / stride
    ).cast("int")
    sized = base.select("doc_id", "t", n_chunks.alias("n_chunks"))
    chunks = F.transform(
        F.sequence(F.lit(0), F.col("n_chunks") - 1),
        lambda i: F.struct(
            (i * stride).cast("long").alias("start_tok"),
            F.least(
                F.size("t") - i * stride, F.lit(chunk_tokens)
            ).cast("long").alias("n_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("t"), i * stride + 1, chunk_tokens)
            ).alias("chunk_text"),
        ),
    )
    return sized.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "ch")
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("ch.start_tok").alias("start_tok"),
        F.col("ch.n_tokens").alias("n_tokens"),
        F.col("ch.chunk_text").alias("chunk_text"),
    )


def deterministic_sample(
    df: DataFrame, key: str, hex_threshold: str = "1a", hex_len: int = 2
) -> DataFrame:
    """Reproducible sampling: keep rows whose md5(key) hex prefix sorts
    below the threshold (fraction = int(threshold,16) / 16**hex_len).
    Unlike rand()-based sampling, membership is a pure function of the
    key — stable across runs, partitionings, and engines, and
    (critically) JOINABLE: sampling two tables by the same key keeps
    referential integrity of the sample. Lexicographic hex comparison
    is engine-portable (no bigint hex parsing required)."""
    prefix = F.substring(F.md5(F.col(key).cast("string")), 1, hex_len)
    return df.filter(prefix < hex_threshold)


def _word_ngram_structs(text: Column, n: int) -> Column:
    """ALL word n-grams (with multiplicity) as an array of n-field
    STRUCTS — zero higher-order functions, so the producing stage
    stays inside whole-stage codegen. The construction is the
    slice-and-zip identity: the i-th n-gram is
    (toks[i], toks[i+1], ..., toks[i+n-1]), i.e. element i of
    arrays_zip(slice(toks,1,m), slice(toks,2,m), ..., slice(toks,n,m))
    with m = max(size-n+1, 0) — all codegen-capable collection
    expressions, unlike the transform/sequence lambda form this
    replaces (CodegenFallback -> 355 s interpreted first-eval at 80x,
    SCALE.md round-10). Consumers that only group/count gram
    IDENTITIES hash the struct fields (tokens are \\S+ runs, so the
    token tuple <-> "t1 t2 .. tn" string map is injective and counts
    match the string form exactly); human-facing consumers concat_ws
    the fields back to the gram string — same bytes as the old form."""
    toks = ws_tokens(text)
    m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(toks, j + 1, m) for j in range(n)])


def repetition_filter(
    documents: DataFrame,
    top_bigram_max: float = 0.20,
    dup_trigram_max: float = 0.30,
) -> DataFrame:
    """Gopher-style within-document repetition metrics + keep flag.

    Repetitious text (boilerplate, keyword stuffing, generation loops)
    is the classic web-corpus failure mode the Gopher/MassiveText
    rules filter on. Per document:

    - ``frac_top_bigram``  — occurrences of the most frequent word
      bigram / total bigrams (Gopher's "top n-gram fraction");
    - ``frac_dup_trigrams`` — occurrences belonging to trigrams seen
      more than once / total trigrams ("duplicate n-gram fraction");
    - ``keep`` — both fractions under their thresholds.

    Shape at scale (r15 single-pass form, guide §2.3/§2.4): ONE
    explode pass emits BOTH gram kinds — position i of a null-padded
    3-slice zip carries (toks[i], toks[i+1], toks[i+2]-or-null), so
    each exploded row yields the bigram hash always and the trigram
    hash when the third token exists — then one agg chain keyed
    (doc_id, kind, gram-hash) → (doc_id) with conditional aggregates
    replaces the former two independent bigram/trigram chains: half
    the text passes, half the shuffles (4 → 2), one doc join instead
    of two. A kind=2 and kind=3 row can never merge (the kind tag is
    in the group key), so per-kind counts are exactly the two-chain
    form's; both aggs still combine map-side, the shuffle carries
    (doc_id, kind, gram-hash) triples, and per-doc state is bounded by
    document length. Fractions are int/int divisions — bit-identical
    across engines (verified value-equal to the two-chain form and
    oracle-green before adoption).
    """
    docs = ensure_min_partitions(documents)

    toks = ws_tokens(F.col("text"))
    m = F.greatest(F.size(toks) - F.lit(1), F.lit(0))
    # arrays_zip pads the short third slice with null: position i has
    # w3 null exactly when no trigram starts there (the last bigram
    # position, and every position of a 2-token doc).
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, m) for j in range(3)])
    z = F.col("z")
    w1, w2, w3 = (z.getField(str(j)) for j in range(3))
    pairs = (
        docs.select("doc_id", F.explode(zipped).alias("z"))
        .select(
            "doc_id",
            F.explode(
                F.array_compact(
                    F.array(
                        F.struct(
                            F.lit(2).alias("kind"),
                            F.xxhash64(w1, w2).alias("g"),
                        ),
                        F.when(
                            w3.isNotNull(),
                            F.struct(
                                F.lit(3).alias("kind"),
                                F.xxhash64(w1, w2, w3).alias("g"),
                            ),
                        ),
                    )
                )
            ).alias("kg"),
        )
        .select("doc_id", F.col("kg.kind").alias("kind"), F.col("kg.g").alias("g"))
    )
    per_gram = pairs.groupBy("doc_id", "kind", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    is2 = F.col("kind") == 2
    is3 = F.col("kind") == 3
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum(F.when(is2, F.col("c"))).alias("tot2"),
        F.max(F.when(is2, F.col("c"))).alias("top2"),
        F.coalesce(F.sum(F.when(is3, F.col("c"))), F.lit(0)).alias("tot3"),
        F.coalesce(
            F.sum(F.when(is3 & (F.col("c") > 1), F.col("c"))), F.lit(0)
        ).alias("dup3"),
    )
    out = (
        docs.select("doc_id", "lang", "n_chars")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            # a doc present in per_doc always has bigram rows (any gram
            # implies a bigram), so top2/tot2 is the two-chain value;
            # tot3=0 reproduces the old missing-trigram-row coalesce.
            F.coalesce(F.col("top2") / F.col("tot2"), F.lit(0.0)).alias(
                "frac_top_bigram"
            ),
            F.when(F.col("tot3") > 0, F.col("dup3") / F.col("tot3"))
            .otherwise(F.lit(0.0))
            .alias("frac_dup_trigrams"),
        )
    )
    return out.withColumn(
        "keep",
        (F.col("frac_top_bigram") <= top_bigram_max)
        & (F.col("frac_dup_trigrams") <= dup_trigram_max),
    )


def quality_filter(
    documents: DataFrame,
    min_words: int = 5,
    max_words: int = 5000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    min_alpha_word_frac: float = 0.8,
    max_symbol_word_ratio: float = 0.1,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Composite Gopher-style document quality GATE: the keep/drop
    decision a corpus build actually applies, composed from the cheap
    per-document heuristics (Rae et al. 2021, "Scaling Language
    Models: ... Gopher", appendix A — word-count band, mean word
    length band, symbol-to-word ratio, alphabetic-word fraction,
    stop-word presence) AND the within-document repetition rules
    (`repetition_filter`). Individual rule verdicts are emitted
    alongside the final flag so a pipeline can audit WHY a document
    dropped — the difference between a filter and a black box.

    One scan computes every token-level metric as column expressions;
    the repetition metrics join in from their own two aggregations.
    All ratios are int/int IEEE divisions (bit-identical across
    engines, oracle-checkable); thresholds are literals, so rule
    booleans are bit-stable too.

    Every metric is a CODEGEN-CAPABLE expression (round-10 rewrite):
    the earlier formulation computed them with higher-order functions
    (filter/transform/aggregate lambdas), which are CodegenFallback —
    the metrics Project fell out of whole-stage codegen entirely and
    the interpreted expression tree cost 355 s on first evaluation vs
    28 s warm at 80x (JIT + GC warm-up of the interpreter paths,
    SCALE.md round-10). The HOF-free equivalents, provably identical
    per token-run semantics (tokens are maximal \\S+ runs):

    - n_words:        size of the ws_tokens array (codegen CSE
                      evaluates the shared split once per row).
    - sum(len(tok)):  length(text with all \\s stripped) — removing
                      whitespace leaves exactly the concatenated
                      tokens.
    - alpha words:    regexp_count of `\\S*[a-z]\\S*` — a match never
                      crosses whitespace, and greedy \\S* consumes a
                      whole token from its start, so each token with
                      >= 1 letter yields exactly one match.
    - stopword hits:  array_intersect/array_distinct over the token
                      array — set ops have codegen; only lambdas
                      don't.
    """
    lt = F.lower(F.col("text"))
    toks = ws_tokens(F.col("text"))
    n = F.size(toks)
    n1 = F.greatest(n, F.lit(1))
    sum_len = F.length(F.regexp_replace(lt, r"\s+", ""))
    alpha = F.regexp_count(lt, F.lit(r"\S*[a-z]\S*"))
    hashes = F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    ellipses = (
        F.length("text")
        - F.length(F.regexp_replace(F.col("text"), r"\.\.\.", ""))
    ) / F.lit(3)
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in STOPWORDS["en"]]),
        )
    )
    base = ensure_min_partitions(documents).select("doc_id", "text").select(
        "doc_id",
        n.alias("n_words"),
        (sum_len / n1).alias("mean_word_len"),
        (alpha / n1).alias("alpha_word_frac"),
        ((hashes + ellipses) / n1).alias("symbol_word_ratio"),
        stop_hits.alias("stopword_hits"),
    )
    rep = repetition_filter(documents).select(
        "doc_id", F.col("keep").alias("repetition_ok")
    )
    rules = base.join(rep, "doc_id").select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_word_frac",
        "symbol_word_ratio",
        "stopword_hits",
        ((F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)).alias(
            "word_count_ok"
        ),
        (
            (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len)
        ).alias("word_len_ok"),
        (F.col("alpha_word_frac") >= min_alpha_word_frac).alias("alpha_ok"),
        (F.col("symbol_word_ratio") <= max_symbol_word_ratio).alias("symbol_ok"),
        (F.col("stopword_hits") >= min_stopword_hits).alias("stopword_ok"),
        "repetition_ok",
    )
    return rules.withColumn(
        "keep",
        F.col("word_count_ok")
        & F.col("word_len_ok")
        & F.col("alpha_ok")
        & F.col("symbol_ok")
        & F.col("stopword_ok")
        & F.col("repetition_ok"),
    )


def corpus_ngrams(
    documents: DataFrame, n: int = 3, k: int = 100
) -> DataFrame:
    """Corpus-level top-k most frequent word n-grams.

    The vocabulary/statistics pass of a corpus build (feeds tokenizer
    training, contamination lists, boilerplate detection). One
    explode → one count agg (map-side combine does the heavy lifting:
    the shuffle carries one (gram, partial-count) per distinct gram
    per partition, not one row per occurrence) → global top-k with
    deterministic (count desc, gram) tiebreak. The gram STRING is
    carried (not just a hash) because the output is human-facing —
    rebuilt from the exploded token struct AFTER the Generate
    (concat_ws is codegen; building gram strings inside a lambda
    before the explode was a CodegenFallback, see _word_ngram_structs)."""
    grams = ensure_min_partitions(documents).select(
        F.explode(_word_ngram_structs(F.col("text"), n)).alias("gs")
    ).select(
        F.concat_ws(
            " ", *[F.col("gs").getField(str(j)) for j in range(n)]
        ).alias("gram")
    )
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n_occurrences"))
    return counts.orderBy(
        F.col("n_occurrences").desc(), F.col("gram")
    ).limit(k)


def unigram_prevalence(documents: DataFrame) -> DataFrame:
    """Unigram-LM document scoring with exact integer statistics.

    The cheap statistical-LM quality signal (cf. CCNet's LM filtering
    stage): score each document by how common its tokens are in the
    corpus itself. Emits per doc: `n_tokens`, `sum_freq` (sum over
    token OCCURRENCES of that token's corpus-wide count), `min_freq`
    (the rarest token's count — a typo/garbage detector), and
    `mean_freq = sum_freq / n_tokens`. All-integer aggregation plus
    ONE final IEEE division keeps the result bit-identical to a SQL
    replay — a log-prob formulation would hit libm divergence between
    engines, while the rank ordering of documents is the same.

    Physical shape: one explode → vocab count agg (map-side partial
    combine shrinks the shuffle to distinct-grams-per-partition) →
    token↔vocab shuffle hash join → per-doc agg. The join key is
    Zipf-skewed (stopwords); AQE skew-join splitting handles the hot
    keys, and at corpus scale the vocab side is far too large to
    broadcast, so a shuffle join is the right plan, not a fallback.
    """

    toks = ensure_min_partitions(documents).select(
        "doc_id", "lang", F.explode(ws_tokens(F.col("text"))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    # lang is functionally dependent on doc_id; grouping by both keeps
    # the final agg a HashAggregate (FIRST() would force SortAggregate)
    return (
        toks.join(vocab, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("freq").alias("sum_freq"),
            F.min("freq").alias("min_freq"),
        )
        .withColumn(
            "mean_freq",
            F.col("sum_freq").cast("double") / F.col("n_tokens"),
        )
    )


def bigram_condprob(documents: DataFrame) -> DataFrame:
    """Second-order statistical-LM scoring: per-document mean and min
    of the corpus bigram conditional probability p(w2|w1) =
    c(w1 w2) / c(w1), where c(w1) is w1's total corpus occurrence
    count. Completes the LM family beside `unigram_prevalence`: a
    document of individually-common words in an improbable ORDER
    scores low here but high there.

    Determinism contract: both counts are exact integers, each p is
    ONE IEEE division (correctly rounded, bit-identical across
    engines), the per-doc mean goes through the DECIMAL(28,8) sum
    image (order-independent — see functions/numeric.py), and min is
    order-free. No log(): rank-equivalent filtering without the
    cross-libm ulp hazard.

    Physical shape: one explode for bigram positions; bigram and
    unigram count aggs both get map-side partial combine; p(w2|w1)
    is computed ONCE on the distinct-bigram table (a small join of
    two count aggs), so only ONE occurrence-scale join remains —
    positions↔probs, Zipf-skewed on stopword contexts, the AQE
    skew-join case, same as unigram_prevalence.
    """

    toks_arr = ws_tokens(F.col("text"))

    def _pairs(t):
        return F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.struct(
                    F.element_at(t, i).alias("w1"),
                    F.element_at(t, i + 1).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    # let-bind the token array (HOFs re-evaluate outer subtrees per
    # element; see word_shingles for the measured cost)
    pairs_col = F.element_at(
        F.transform(F.array(toks_arr), _pairs), 1
    )
    docs = ensure_min_partitions(documents)
    positions = docs.select(
        "doc_id", "lang", F.explode(pairs_col).alias("p")
    ).select("doc_id", "lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    unigrams = docs.select(F.explode(toks_arr).alias("w1")).groupBy("w1").agg(
        F.count(F.lit(1)).alias("c1")
    )
    bigrams = positions.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    probs = bigrams.join(unigrams, "w1").select(
        "w1", "w2", (F.col("c12").cast("double") / F.col("c1")).alias("p")
    )
    scored = positions.join(probs, ["w1", "w2"])
    from elb_log_to_mysql_spark.functions.numeric import dsum

    return scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (dsum("p") / F.count(F.lit(1))).alias("mean_condp"),
        F.min("p").alias("min_condp"),
    )


def lm_perplexity_filter(documents: DataFrame) -> DataFrame:
    """CCNet-style statistical-LM perplexity gate: score every
    document by the cross-entropy (bits/bigram) of an add-one
    smoothed bigram LM trained on the corpus itself, and flag the
    below-corpus-mean half as `keep`. This is the canonical cheap
    LM-quality filter (Wenzek et al., CCNet): documents whose word
    ORDER is improbable under the corpus distribution — boilerplate
    mashups, shuffled scrapes, lorem-garbage — score high-entropy and
    drop, without any external model.

    p(w2|w1) = (c12 + 1) / (c1 + V) with V = |vocab| (Laplace), so
    every probability is a single IEEE division of exact integers.
    The per-bigram surprisal -log2(p) is the one transcendental; it
    is ROUND()ed to 6 dp on both engines (the tfidf precedent for
    cross-libm log) and then aggregated through the DECIMAL(28,8)
    image (functions/numeric.py), so the per-doc cross-entropy and
    the corpus-mean threshold are order-independent and bit-identical
    to the SQL replay at any parallelism.

    Physical shape = bigram_condprob's + two broadcast scalars: the
    surprisal table is built on the DISTINCT-bigram frame (small join
    of two count aggs + one broadcast |vocab| row), so the only
    occurrence-scale join is positions↔surprisals (Zipf-skewed on
    stopword contexts — AQE skew-join splits the hot keys). The keep
    threshold is a 1-row agg broadcast back; nothing quadratic, no
    Python.
    """
    from elb_log_to_mysql_spark.functions.numeric import davg

    toks_arr = ws_tokens(F.col("text"))

    def _pairs(t):
        return F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.struct(
                    F.element_at(t, i).alias("w1"),
                    F.element_at(t, i + 1).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    pairs_col = F.element_at(F.transform(F.array(toks_arr), _pairs), 1)
    docs = ensure_min_partitions(documents)
    positions = docs.select(
        "doc_id", "lang", F.explode(pairs_col).alias("p")
    ).select(
        "doc_id", "lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    unigrams = docs.select(F.explode(toks_arr).alias("w1")).groupBy("w1").agg(
        F.count(F.lit(1)).alias("c1")
    )
    vocab = unigrams.agg(F.count(F.lit(1)).alias("v"))
    bigrams = positions.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    surprisal = (
        bigrams.join(unigrams, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.round(
                -F.log2(
                    (F.col("c12") + 1).cast("double")
                    / (F.col("c1") + F.col("v"))
                ),
                6,
            ).alias("bits"),
        )
    )
    perdoc = (
        positions.join(surprisal, ["w1", "w2"])
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            davg("bits").alias("cross_entropy"),
        )
    )
    thr = perdoc.agg(davg("cross_entropy").alias("thr"))
    return perdoc.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "lang",
        "n_bigrams",
        "cross_entropy",
        (F.col("cross_entropy") <= F.col("thr")).alias("keep"),
    )


def bpe_pair_counts(documents: DataFrame, k: int = 40) -> DataFrame:
    """First BPE merge iteration over the corpus: adjacent
    character-pair frequencies within whitespace words, top-k.

    Tokenizer training's inner loop is "count all adjacent symbol
    pairs, merge the argmax, repeat" (Sennrich et al. 2016); the
    count pass is the distributed-scale part — each merge decision
    is a global argmax over it. One explode chain → one count agg
    (map-side partial combine: the shuffle carries distinct pairs
    per partition, ≤ ~1k keys for byte-level pairs) → deterministic
    top-k with (count desc, pair) tiebreak. Words shorter than 2
    chars are filtered BEFORE the position fan-out: Spark's
    `sequence(1, 0)` steps downward and would crash substring.
    """

    words = ensure_min_partitions(documents).select(
        F.explode(
            F.filter(ws_tokens(F.col("text")), lambda t: F.length(t) >= 2)
        ).alias("w")
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair"))
        .limit(k)
    )


def fuzzy_name_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 3,
    block_on_last_word: bool = True,
) -> DataFrame:
    """Entity-resolution building block: distinct value pairs within
    edit distance `max_dist`, found via blocked self-join + JVM-side
    `levenshtein` verification (no Python in the loop).

    Blocking is what makes fuzzy matching survive scale: the self-join
    runs per block (here the trailing word — for product-style names
    the head noun; swap in phonetic keys or length bands per domain),
    so candidate volume is sum-of-block² instead of n². The
    levenshtein filter evaluates inside the join's codegen stage —
    non-candidates never reach the output shuffle."""
    vals = (
        df.select(F.col(col).alias("name"))
        .filter(F.col("name").isNotNull())
        .distinct()
    )
    if block_on_last_word:
        vals = vals.withColumn("blk", F.substring_index("name", " ", -1))
    else:
        vals = vals.withColumn(
            "blk", F.concat(F.substring("name", 1, 1), F.length("name") % 4)
        )
    a, b = vals.alias("a"), vals.alias("b")
    return (
        a.join(b, F.col("a.blk") == F.col("b.blk"))
        .filter(F.col("a.name") < F.col("b.name"))
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein("a.name", "b.name").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def _bpe_apply_merge(sym: Column, pa: Column, pb: Column, merged: Column) -> Column:
    """Left-to-right NON-OVERLAPPING application of one BPE merge to a
    symbol array, as an in-row fold: append each symbol unless the
    accumulator's last element is `pa` and the incoming one is `pb`,
    in which case both collapse into `merged`. Because `merged` =
    pa||pb with pb non-empty, merged != pa, so a just-merged symbol
    can never immediately re-merge — exactly the non-overlap rule
    tokenizer training uses ("aaaa" under (a,a) -> [aa, aa], not
    [aa, aaa])."""
    empty = F.slice(sym, F.lit(1), F.lit(0))  # [] with the right type
    return F.aggregate(
        sym,
        empty,
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, F.lit(-1)) == pa)
            & (x == pb),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_merge_loop(documents: DataFrame, n_merges: int = 3) -> DataFrame:
    """Tokenizer training's OUTER loop (Sennrich et al. 2016), not just
    its first count pass (`bpe_pair_counts`): iteratively count
    adjacent symbol pairs, merge the global argmax, re-segment, and
    repeat — each merge CHANGES the next iteration's counts, which is
    what makes this an iterative distributed algorithm rather than a
    one-shot aggregate.

    Scale shape: training runs on the DISTINCT-WORD frequency table
    (one corpus shuffle up front; classic BPE trains on word counts,
    not the raw corpus), so the loop's per-iteration cost is
    independent of corpus size — at 100 TB the word table is millions
    of rows, not billions. Each iteration is: one pair-count agg over
    the word table (map-side combined, pair-key cardinality bounded
    by the live symbol alphabet), a 1-row deterministic argmax
    (count desc, then pair lexicographic), broadcast of that single
    row, and an in-row fold applying the merge (`_bpe_apply_merge`) —
    the same zero-shuffle broadcast-argmin pattern as k-means
    assignment (clustering.py). localCheckpoint bounds plan depth per
    round (pagerank/k-means's bound).

    The symbol alphabet is restricted to `[a-z0-9]+` words of length
    >= 2 (punctuation-bearing tokens are excluded from BPE training,
    as real pre-tokenizers do) — this also guarantees symbols never
    contain spaces, which the oracle's independent space-wrapped
    string-replace replay of the merge step relies on. Pair counts
    count OVERLAPPING adjacent occurrences ("aaa" contributes (a,a)
    twice), merge application is non-overlapping left-to-right — both
    standard.

    Returns one row per merge step: (step, pair_a, pair_b, merged,
    n_occurrences) — the ordered merge list IS the trained tokenizer.
    Deterministic: integer counts, total tiebreak.
    """
    merge_rows, _ = _bpe_train(documents, n_merges)
    if not merge_rows:
        # no mergeable pair ever existed (e.g. a corpus with no
        # [a-z0-9]{2,} tokens, or n_merges=0): the oracle's b_i CTEs
        # are all empty, so return an empty frame of the same shape
        return documents.sparkSession.createDataFrame(
            [],
            "step int, pair_a string, pair_b string, "
            "merged string, n_occurrences long",
        )
    out = merge_rows[0]
    for more in merge_rows[1:]:
        out = out.union(more)
    return out


def _bpe_train(documents, n_merges):
    """Shared BPE trainer behind `bpe_merge_loop` (returns the merge
    list) and `bpe_encode` (returns the corpus token table after the
    merges are applied). Returns (merge_rows, words) where merge_rows
    is a list of 1-row DataFrames (step, pair_a, pair_b, merged,
    n_occurrences) and words is the distinct-word frequency table
    with its symbol arrays re-segmented by every applied merge."""

    w = F.col("w")
    words = (
        ensure_min_partitions(documents)
        .select(
            F.explode(
                F.filter(
                    ws_tokens(F.col("text")),
                    lambda t: (F.length(t) >= 2) & t.rlike("^[a-z0-9]+$"),
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.transform(
                F.sequence(F.lit(1), F.length(w)),
                lambda i: w.substr(i, F.lit(1)),
            ).alias("s"),
            "freq",
        )
        .localCheckpoint()
    )

    merge_rows = []
    for step in range(1, n_merges + 1):
        s = F.col("s")
        zipped = F.arrays_zip(
            F.slice(s, F.lit(1), F.size(s) - 1).alias("a"),
            F.slice(s, F.lit(2), F.size(s) - 1).alias("b"),
        )
        counts = (
            words.select(F.explode(zipped).alias("p"), "freq")
            .groupBy(
                F.col("p.a").alias("pair_a"), F.col("p.b").alias("pair_b")
            )
            .agg(F.sum("freq").alias("n_occurrences"))
        )
        best = (
            counts.orderBy(
                F.col("n_occurrences").desc(), "pair_a", "pair_b"
            )
            .limit(1)
            .select(
                F.lit(step).alias("step"),
                "pair_a",
                "pair_b",
                F.concat("pair_a", "pair_b").alias("merged"),
                "n_occurrences",
            )
            .localCheckpoint()
        )
        if not best.head(1):
            # alphabet exhausted (every word is one symbol): no pairs
            # left to merge. The oracle's unrolled CTEs yield empty
            # b_i rows from here on, so stopping matches it exactly.
            break
        merge_rows.append(best)
        words = (
            words.join(
                F.broadcast(best.select("pair_a", "pair_b", "merged"))
            )
            .select(
                _bpe_apply_merge(
                    F.col("s"),
                    F.col("pair_a"),
                    F.col("pair_b"),
                    F.col("merged"),
                ).alias("s"),
                "freq",
            )
            .localCheckpoint()
        )

    return merge_rows, words


def bpe_encode(
    documents: DataFrame,
    n_merges: int = 3,
    k: int = 40,
) -> DataFrame:
    """Tokenizer training's third act — ENCODE: apply the learned
    merge list back to the corpus and emit the resulting vocabulary
    with corpus-wide token frequencies (top-k, deterministic
    tiebreak). Together with `bpe_pair_counts` (one count pass) and
    `bpe_merge_loop` (the training loop) this completes the BPE
    story: train on the distinct-word table, then measure what the
    trained tokenizer actually produces over the corpus.

    Scale shape: encoding is embarrassingly parallel — the merge
    list is tiny (n_merges rows, broadcast during training) and each
    word re-segments with an in-row fold, so the only shuffles are
    the up-front distinct-word agg (shared with training) and the
    final token count. Because encode runs on the WORD-frequency
    table and weights each token by the word's corpus frequency, its
    cost at 100 TB is O(distinct words), not O(corpus): the corpus
    is touched exactly once, by the same tokenize+count pass
    training already needs.

    Returns (token, n_occurrences, token_len) ordered by count desc
    then token — single-character tokens that were never merged rank
    alongside merged symbols, which is exactly the vocabulary a BPE
    tokenizer at this merge budget would ship. Deterministic:
    integer counts, total tiebreak (token is unique per row).
    """
    _, words = _bpe_train(documents, n_merges)
    return (
        words.select(F.explode("s").alias("token"), "freq")
        .groupBy("token")
        .agg(F.sum("freq").alias("n_occurrences"))
        .select(
            "token",
            "n_occurrences",
            F.length("token").alias("token_len"),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(k)
    )



def bm25_topk(
    documents: DataFrame,
    n_query_terms: int = 5,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 lexical retrieval: top-k documents per query term.

    The lexical half of every retrieval/curation stack (hybrid search,
    RAG grounding, dedup-aware sampling): Okapi BM25 with the standard
    (k1, b) defaults, computed relationally — explode to a postings
    list, aggregate tf/df/|d|, score, rank per term. Query terms are
    derived from the corpus itself so the gate needs no external
    fixture: the n most SELECTIVE terms (lowest document frequency,
    df >= 2 so every query still ranks a real posting list) — the
    terms BM25's idf actually rewards.

    Scale shape: tf aggregates on (term, doc) — balanced keys with
    map-side combine; the query-term list and the corpus scalars
    (N, total length) broadcast; the only per-term state is the
    top-k window over matching docs. Output is rank-checked (term,
    doc_id, tf, dl, rank): tf/dl are exact ints and the float score
    stays internal, mirroring the ANN entries' determinism contract.
    """
    # toks feeds FOUR derivations (dl, corpus scalars, df_, tf): persist
    # the token arrays so the corpus is tokenized once, not per branch
    # (the unpersisted plan replicated the scan+tokenize chain 4x —
    # 8 parquet scans at r15 measurement; cache lifetime is GC-scoped).
    toks = (
        ensure_min_partitions(documents)
        .select("doc_id", ws_tokens(F.col("text")).alias("t"))
        .filter(F.size("t") > 0)
        .persist()
    )
    dl = toks.select("doc_id", F.size("t").cast("long").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    df_ = (
        toks.select("doc_id", F.explode(F.array_distinct("t")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    qterms = (
        df_.filter(F.col("df") >= 2)
        .orderBy(F.col("df").asc(), "term")
        .limit(n_query_terms)
        .select("term", "df")
    )
    tf = (
        toks.select("doc_id", F.explode("t").alias("term"))
        .join(F.broadcast(qterms), "term")
        .groupBy("term", "df", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    score = idf * (
        (F.col("tf") * F.lit(k1 + 1))
        / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl)
        )
    )
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn("_score", score)
    )
    w = Window.partitionBy("term").orderBy(F.col("_score").desc(), "doc_id")
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("term", "doc_id", "tf", "dl", "rank")
    )
    return unpersist_on_gc(out, toks)
