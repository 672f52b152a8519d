"""Text-analysis expressions for large-scale training-data pipelines.

All pure JVM-side Column expressions (no Python UDFs): language ID
(stopword-hit heuristic), quality scoring, token counting, document
fingerprinting, word shingling. Each is designed to be mirrored exactly
in ANSI SQL so the DuckDB oracle can verify it.

These extend the reference's surface (BASELINE.json north-star: text
analysis over the ``documents`` table); there is no reference site to
cite — semantics are the standard corpus-hygiene measures.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Small distinctive stopword lists per language for the heuristic
#: language classifier. Order matters: ties resolve by this precedence.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it"],
    "es": ["el", "la", "de", "que", "y", "los", "las", "una"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans"],
}

#: Punctuation class shared by quality metrics (kept regex-portable
#: between Spark (Java regex) and DuckDB (RE2)).
PUNCT_CLASS = r"[.,;:!?()\[\]{}\"'-]"

#: Word-ish tokenization for the BPE-style count: word chars or a single
#: non-space symbol — approximates subword segmentation cheaply.
BPEISH_PATTERN = r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed text (empty text -> empty array)."""
    c = _col(col)
    return F.when(F.length(F.trim(c)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(c), r"\s+")
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpeish_token_count(col: Column | str) -> Column:
    """Subword-ish token count: words plus individual symbols."""
    return F.regexp_count(_col(col), F.lit(BPEISH_PATTERN))


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    c = _col(col)
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        F.regexp_count(c, F.lit(PUNCT_CLASS)) / F.length(c)
    )


def stopword_hits(col: Column | str, stopwords: list[str]) -> Column:
    """Number of tokens that are in ``stopwords`` (with repetition)."""
    stoplist = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(stoplist, t)))


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Stopword tokens / all tokens (0 for empty text)."""
    sw = stopwords if stopwords is not None else LANG_STOPWORDS["en"]
    n = token_count(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(stopword_hits(col, sw) / n)


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic for corpus filtering.

    mean of three signals: length band (50..5000 chars), moderate
    punctuation (<15%), presence of common-word glue (stopword ratio in
    10..60%). Deterministic arithmetic, mirrored 1:1 in the SQL oracle.
    """
    c = _col(col)
    len_ok = ((F.length(c) >= 50) & (F.length(c) <= 5000)).cast("double")
    punct_ok = (punct_ratio(c) < 0.15).cast("double")
    sw = stopword_ratio(c)
    glue_ok = ((sw >= 0.10) & (sw <= 0.60)).cast("double")
    return F.round((len_ok + punct_ok + glue_ok) / 3.0, 4)


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: CJK script check, else argmax of per-language
    stopword hits (precedence order of LANG_STOPWORDS on ties; 'und' when
    no list scores a hit)."""
    c = _col(col)
    scores = {lang: stopword_hits(c, sw) for lang, sw in LANG_STOPWORDS.items()}
    s_en, s_es, s_de, s_fr = (scores[lang] for lang in ("en", "es", "de", "fr"))
    return (
        F.when(c.rlike(r"[一-鿿]"), F.lit("zh"))
        .when((s_en == 0) & (s_es == 0) & (s_de == 0) & (s_fr == 0), F.lit("und"))
        .when((s_en >= s_es) & (s_en >= s_de) & (s_en >= s_fr), F.lit("en"))
        .when((s_es >= s_de) & (s_es >= s_fr), F.lit("es"))
        .when(s_de >= s_fr, F.lit("de"))
        .otherwise(F.lit("fr"))
    )


#: PII patterns, deliberately RE2-safe (no backrefs/lookaround) so the
#: identical pattern string runs on Spark (Java regex) and DuckDB (RE2).
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"(?:\+?\d{1,2}[- ])?\d{3}[- ]\d{3}[- ]\d{4}"


def scrub_pii(col: Column | str) -> Column:
    """Redact emails then phone numbers with typed placeholders — the
    training-data hygiene pass that must run before any text ships to a
    corpus. Pure JVM regexp_replace (global), no UDF."""
    c = _col(col)
    scrubbed = F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(scrubbed, PHONE_PATTERN, "<PHONE>")


def email_count(col: Column | str) -> Column:
    return F.regexp_count(_col(col), F.lit(EMAIL_PATTERN))


def phone_count(col: Column | str) -> Column:
    return F.regexp_count(_col(col), F.lit(PHONE_PATTERN))


def fingerprint(col: Column | str) -> Column:
    """Deterministic content fingerprint: sha256 over the sorted distinct
    token set — stable under word order and repetition (near-dup grouping
    key for bag-of-words-identical documents)."""
    return F.sha2(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))), 256
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles (array<string>); fewer than n words ->
    one shingle of the whole text."""
    toks = tokens(col)
    k = F.size(toks)
    joined = F.concat_ws(" ", toks)
    return F.when(k < n, F.array(joined)).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), k - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        )
    )


def word_shingles_fast(col: Column | str, n: int = 3) -> Column:
    """n-word shingles via one regex pass — NOT deduplicated.

    ``transform``/``slice``/``array_distinct`` run interpreted (outside
    whole-stage codegen) and dominated the shingle pipelines' runtime
    (measured 7x slower than this form at sf0.1). The codegen-friendly
    formulation: normalize whitespace, then an overlapping-match
    lookahead — ``(?=(tok tok tok))tok`` captures the n-gram starting at
    every token while consuming exactly one token per step.

    Same distinct-shingle multiset per document as ``word_shingles``
    EXCEPT duplicates are kept — use only where downstream aggregation
    dedups anyway (``collect_set`` posting lists, MIN-hash signatures);
    the <n-token whole-text fallback matches ``word_shingles`` exactly.
    """
    c = _col(col)
    norm = F.regexp_replace(F.trim(c), r"\s+", " ")
    pattern = "(?=(" + " ".join([r"\S+"] * n) + r"))\S+ "
    return F.when(F.size(tokens(col)) < n, F.array(norm)).otherwise(
        F.regexp_extract_all(norm, F.lit(pattern), 1)
    )


def winnow_fingerprints(df, text_col: str, id_col: str, *, k: int = 8, w: int = 4):
    """Winnowing fingerprints (rolling-hash dedup, MOSS-style): hash every
    k-char gram of the whitespace-normalized text, keep the minimum hash
    of each w-length sliding window — any k+w-1 char substring match
    between two documents is guaranteed to share a selected fingerprint.

    Scalable formulation: explode gram positions to rows, hash with a
    flat md5 projection (whole-stage codegen), sliding-window MIN via a
    frame window partitioned by doc_id, then distinct — no interpreted
    higher-order functions; shuffles only on doc_id. Output: one row per
    (doc_id, fp). Documents shorter than k chars produce no rows.
    """
    from pyspark.sql import Window

    grams = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.concat_ws(" ", tokens(F.col(text_col))).alias("__t"),
        )
        .filter(F.length("__t") >= k)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("__t") - (k - 1))).alias("pos"),
            F.col("__t"),
        )
        .select("doc_id", "pos", F.md5(F.expr(f"substring(__t, pos, {k})")).alias("h"))
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.withColumn("fp", F.min("h").over(win))
        .select("doc_id", "fp")
        .distinct()
    )
