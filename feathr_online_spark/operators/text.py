"""Text analysis for training-data pipelines: tokenization stats, quality
scoring, language ID, document fingerprinting.

All pure Column expressions (JVM, codegen'd, no UDFs) — at 100 TB these run
map-side inside the parquet scan stage with zero shuffle.  Each helper has a
direct ANSI-SQL equivalent so the DuckDB oracle can replay it.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# Tokenization
# ---------------------------------------------------------------------------

def words(text: ColumnOrName) -> Column:
    """Whitespace tokenization on Java's ``\\s`` class (``[ \\t\\n\\x0B\\f\\r]``;
    U+00A0 and U+3000 stay inside their token), collapsing runs.  ``split``
    leaves an empty token at a leading or trailing run and returns [''] for
    empty text; ``array_remove`` drops them in one codegen'd pass, so
    empty/whitespace-only text yields an EMPTY array."""
    return F.array_remove(F.split(_col(text), r"\s+"), "")


def shingles(word_arr: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-grams of a token array, in order: the dedup shingle SET, or
    with ``distinct=False`` the multiset the repetition metrics count.
    Empty when len < n — guarded with when(), because Spark's
    sequence(0, -1) counts BACKWARDS instead of being empty.

    ``word_arr`` is bound once as a lambda variable (transform over a
    one-element array): the n-gram lambda reads it per position, and an
    unbound expression such as ``words(text)`` would be re-tokenized per
    shingle — quadratic in the document's length."""
    def grams(w: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(w) - n)
        sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)))
        sh = F.when(F.size(w) >= n, sh).otherwise(F.array().cast("array<string>"))
        return F.array_distinct(sh) if distinct else sh

    return F.element_at(F.transform(F.array(word_arr), grams), 1)


def token_count_ws(text: ColumnOrName) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


# BPE-ish segmentation: letter runs, digit runs, punctuation runs — the
# GPT-2-style pre-tokenizer shape, kept to syntax RE2 (DuckDB) and the JDK
# regex engine (Spark) both accept, so oracles can replicate it.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def token_count_bpe(text: ColumnOrName) -> Column:
    """Count of BPE-ish pre-tokens (letter/digit/punct runs).

    Perf note: the pattern's negated class hits the same JDK regex slow
    path measured in ``_punct_count`` (~1 µs/char); unlike the punct
    COUNT, run-splitting genuinely needs the regex, so budget this as the
    most expensive of the token counters at corpus scale (still linear,
    map-side)."""
    return F.size(F.regexp_extract_all(_col(text), F.lit(BPE_ISH_PATTERN), 0))


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "that", "this", "be",
]

#: alnum + the six ``\s`` whitespace chars — the complement of the punct class
_ALNUM_WS = ("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
             " \t\n\x0b\x0c\r")


def _punct_count(t: Column) -> Column:
    """Count of punctuation chars (``[^A-Za-z0-9\\s]``), computed by DELETING
    the complement via ``translate`` and measuring what is left.

    Why not ``regexp_count(t, '[^A-Za-z0-9\\s]')``: the JDK regex engine
    takes a slow path on NEGATED character classes — measured 2.4 s vs
    0.17 s for this translate form over the 10x corpus (tools/sf1_evidence
    attribution, r5); positive classes like ``[0-9]`` are fast.  The DuckDB
    oracles keep the regex form (RE2 has no such cliff) and values match.
    Caveat: for non-BMP code points ``length`` counts UTF-16 units, so an
    astral punctuation char counts 2 here vs 1 under the regex — irrelevant
    for the corpus-audit heuristic and absent from the test corpora."""
    return F.length(F.translate(t, _ALNUM_WS, ""))


def _digit_count(t: Column) -> Column:
    """Digit-char count.  Positive-class regex, NOT translate-deletion: the
    JDK slow path the ``_punct_count`` translate trick dodges is specific
    to NEGATED classes — for ``[0-9]`` the regex scan is fast and the
    translate form (which copies the string) measured 3× SLOWER at sf1.0
    (0.21 vs 0.62 s; r6 A/B)."""
    return F.size(F.regexp_extract_all(t, F.lit(r"[0-9]"), 0))


def _char_mix_bp(t: Column) -> tuple[Column, Column, Column]:
    """(n_chars, punct_bp, digit_bp) of a text column: its length and its
    punctuation and digit shares in basis points, ``floor(n * 10000 /
    n_chars)``."""
    n_chars = F.length(t).cast("long")

    def bp(count: Column) -> Column:
        return F.floor(count.cast("long") * 10000 / n_chars).cast("long")

    return n_chars, bp(_punct_count(t)), bp(_digit_count(t))


def _wc_stop_agg(w: Column, finish) -> Column:
    """(token count, stopword count) over a token array, reduced by
    ``finish(n, s)``.  Pass an already-evaluated array (lambda variable /
    materialized column) so the references share one tokenization.

    NB a struct-accumulator ``aggregate`` single-pass form was measured and
    REJECTED (r6): per-token struct allocation in interpreted eval costs
    more than the extra cheap array traversals — 2.4 → 4.8 s on the
    text_quality gate at sf1.0; size() + one filter pass is the fast shape."""
    stop = F.array([F.lit(s) for s in EN_STOPWORDS])
    n = F.size(w).cast("long")
    s = F.size(F.filter(w, lambda x: F.array_contains(stop, F.lower(x)))).cast("long")
    return finish(n, s)


def quality_features_bp(text: ColumnOrName,
                        words_arr: Column | None = None) -> dict[str, Column]:
    """Raw quality signals: char/word counts, and punctuation, digit and
    stopword ratios in basis points (1/10000) via exact integer arithmetic —
    ``floor(a*10000 / b)`` with operands < 2^53 is bit-exact in every
    engine, unlike ``round(double, 4)`` whose half-way behaviour differs
    between Spark (HALF_UP on the binary double) and e.g. DuckDB (scaled
    multiply-round).

    Punctuation counting is translate-deletion, digit counting a
    positive-class regex (see ``_digit_count``).  ``words_arr``:
    already-evaluated token array (see repetition_signals_bp) so every
    entry shares ONE tokenization."""
    w = words_arr if words_arr is not None else words(text)
    n_chars, punct_bp, digit_bp = _char_mix_bp(_col(text))
    return {
        "n_chars": n_chars,
        "n_words": F.size(w).cast("long"),
        "punct_bp": punct_bp,
        "digit_bp": digit_bp,
        "stopword_bp": _wc_stop_agg(
            w, lambda n, s: F.floor(s * 10000 / n).cast("long")),
    }


# Rewrites of the n-gram legs over 64-bit gram hashes were measured and
# REJECTED (r5 outlier attribution): higher-order array expressions
# (transform/aggregate/filter) are evaluated INTERPRETED in Spark — not
# whole-stage-codegen'd — so per-element cost dominates regardless of the
# element type, and an xxhash64-of-elements lambda was 4.5× SLOWER than the
# concat_ws string form (26.3 vs 5.8 s over the 10× corpus), with
# hash-after-concat exactly neutral (5.7 s).  The signals are linear in
# tokens; the scale lever is parallelism (see q_text_repetition's widen),
# not the element representation.


def repetition_signals_bp(text: ColumnOrName | None,
                          words_arr: Column | None = None) -> dict[str, Column]:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 quality
    filters), token-level, in integer basis points for cross-engine
    bit-exactness (same rationale as quality_features_bp):

    - ``dup_word_bp``: fraction of tokens that are repeats of an earlier
      token, ``(n - n_distinct) / n``;
    - ``top2_bp``: fraction of tokens covered by the single most frequent
      word bigram, ``min(2·max_count / n, 1)`` (occurrences may overlap, so
      capped at 10000);
    - ``dup5_bp``: fraction of word 5-gram occurrences that are duplicates,
      ``(g - g_distinct) / g`` — the n-gram repetition family's strongest
      boilerplate detector.

    All row-local array expressions — map-side over the scan, no shuffle, no
    Python; a 100 TB corpus pays one pass.  Short docs degrade gracefully:
    no bigrams/5-grams → 0 bp (not null), so downstream filters compose.

    ``words_arr``: already-evaluated token array (e.g. a lambda variable from
    a transform-over-singleton let-binding, or a materialized column) — the
    signals then share ONE tokenization instead of re-tokenizing per entry
    (HOFs are interpreted; Catalyst does not CSE across expression roots)."""
    w = words_arr if words_arr is not None else words(text)
    n = F.size(w).cast("long")
    n_dist = F.size(F.array_distinct(w)).cast("long")
    dup_word = F.when(n > 0, F.floor((n - n_dist) * 10000 / n)).otherwise(0)

    g2 = shingles(w, 2, distinct=False)
    # max multiplicity via sorted run-lengths — O(W log W) per doc.  The
    # obvious transform×filter count is O(W²) AND falls out of codegen into
    # interpreted eval on real documents (observed: a single 5k-doc
    # partition pinned one core for 6+ minutes at sf0.1); the sorted
    # aggregate runs the same corpus in under a second.
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def _run_step(acc, g):
        run = F.when(acc["prev"].eqNullSafe(g), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            g.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top2_cnt = F.aggregate(
        F.array_sort(g2), acc0, _run_step, lambda acc: acc["best"]
    ).cast("long")
    top2 = F.when(
        F.size(g2) > 0,
        F.least(F.floor(top2_cnt * 2 * 10000 / n), F.lit(10000).cast("long")),
    ).otherwise(0)

    g5 = shingles(w, 5, distinct=False)
    g5n = F.size(g5).cast("long")
    g5d = F.size(F.array_distinct(g5)).cast("long")
    dup5 = F.when(g5n > 0, F.floor((g5n - g5d) * 10000 / g5n)).otherwise(0)

    return {
        "dup_word_bp": dup_word.cast("long"),
        "top2_bp": top2.cast("long"),
        "dup5_bp": dup5.cast("long"),
    }


def repetition_flag(signals: Mapping[str, Column], n_words: Column,
                    max_dup_word_bp: int = 5000,
                    max_top2_bp: int = 2000,
                    max_dup5_bp: int = 3000,
                    min_words: int = 10) -> Column:
    """The repetition rule over already-computed ``repetition_signals_bp``
    columns and a word count, with Gopher-shaped default thresholds (tuned
    per-corpus in practice): true when ANY signal exceeds its cap.

    ``min_words``: documents shorter than this are NEVER flagged — the
    fractions are meaningless at tiny n (a 6-word doc with zero repetition
    has top2_bp = floor(2·10000/6) = 3333 purely from its length; Gopher
    likewise applies its repetition filters only above a minimum length).
    Set 0 to disable the guard."""
    flag = ((signals["dup_word_bp"] > max_dup_word_bp)
            | (signals["top2_bp"] > max_top2_bp)
            | (signals["dup5_bp"] > max_dup5_bp))
    if min_words > 0:
        flag = flag & (n_words >= min_words)
    return flag


def is_repetitive(text: ColumnOrName, **thresholds: int) -> Column:
    """Boolean repetition filter on ``text``: ``repetition_flag`` (which
    takes the ``thresholds`` keywords) over its signals and word count."""
    return repetition_flag(repetition_signals_bp(text), F.size(words(text)), **thresholds)


def quality_score_bp(text: ColumnOrName,
                     words_arr: Column | None = None) -> Column:
    """Integer-exact composite quality in basis points [0, 10000]:
    0.4·len + 0.3·stopword + 0.3·(1 − noise), all in integer arithmetic.

    With ``words_arr`` bound by the caller the composite costs one size()
    and one filter pass over the shared token array plus the punct count
    (translate-deletion) and the digit count (a positive-class regex, see
    ``_digit_count``) — no re-tokenization anywhere."""
    _, punct_bp, digit_bp = _char_mix_bp(_col(text))
    noise_bp = F.greatest(
        F.lit(0).cast("long"),
        F.lit(10000).cast("long") - punct_bp * 3 - digit_bp * 2,
    )

    def finish(n, s):
        len_bp = F.least(n * 200, F.lit(10000).cast("long"))
        stop_bp = F.least(
            F.floor(s * 10000 / n).cast("long") * 5,
            F.lit(10000).cast("long"))
        return F.floor((len_bp * 4 + stop_bp * 3 + noise_bp * 3) / 10).cast("long")

    return _wc_stop_agg(words_arr if words_arr is not None else words(text), finish)


# ---------------------------------------------------------------------------
# Language ID (n-gram/stopword heuristic)
# ---------------------------------------------------------------------------

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with", "for", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "von"],
    "es": ["el", "la", "los", "que", "y", "es", "en", "un", "una", "por"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"],
    # r5 additions — marker words chosen to avoid bare one-letter tokens
    # ('a', 'o', 'e') that would misfire on English prose
    "it": ["il", "che", "di", "non", "per", "con", "una", "sono", "della", "questo"],
    "pt": ["que", "de", "não", "uma", "para", "com", "por", "mais", "como", "mas"],
    "nl": ["het", "een", "van", "niet", "met", "zijn", "voor", "maar", "ook", "naar"],
}

#: script-range signals (r5): one literal unicode character-class per
#: script, counted per CHARACTER — the same regexp_extract_all shape as the
#: original CJK rule, portable between the JDK engine and RE2/DuckDB.
SCRIPT_PATTERNS: dict[str, str] = {
    "zh": r"[一-鿿]",    # CJK unified ideographs U+4E00-9FFF
    "ja": r"[ぁ-ヿ]",    # hiragana + katakana U+3041-30FF
    "ko": r"[가-힣]",    # hangul syllables U+AC00-D7A3
    "ru": r"[Ѐ-ӿ]",     # cyrillic U+0400-04FF
    "ar": r"[؀-ۿ]",     # arabic U+0600-06FF
    "hi": r"[ऀ-ॿ]",     # devanagari U+0900-097F
}

def lang_id(text: ColumnOrName, default: str = "unknown",
            words_arr: Column | None = None) -> Column:
    """argmax language by marker score; deterministic tie-break = language
    code order; 'unknown' when every score is 0.

    Implementation notes:

    - (r5) the obvious argmax fold doubles the expression tree per language
      (measured 20x at 13 languages); max over an array of (score, -index)
      structs evaluates each score once — FIRST code in sorted order wins
      ties, matching the DuckDB oracle's CASE order.
    - (r6) the seven Latin marker scores share ONE lowered tokenization,
      bound once as a transform-over-singleton lambda variable — the r5
      shape ran ``size(filter(words(text)))`` per language, and because
      higher-order functions are interpreted and Catalyst does not CSE
      across expression roots, that re-tokenized the text seven times.
      (A struct-accumulator single-traversal aggregate was measured and
      REJECTED: per-token struct/array allocation in interpreted eval loses
      to seven plain filter passes over the bound array, 4.8 vs 3.9 s on
      the gate.)  Script scores use ``regexp_count`` (no match-array
      materialization).  The final when/element_at is wrapped in the same
      binding trick so the argmax struct is evaluated ONCE, not once per
      reference.  Values are bit-identical to r5 (same counts, same
      tie-break).

    ``words_arr``: already-evaluated token array (e.g. an outer lambda
    variable) to share the tokenization with other annotators."""
    t = _col(text)
    langs = sorted(list(LANG_MARKERS) + list(SCRIPT_PATTERNS))
    codes = F.array(*[F.lit(lang) for lang in langs])

    def build(lw):
        entries = []
        for lang in langs:
            if lang in LANG_MARKERS:
                arr = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
                s = F.size(F.filter(lw, lambda x: F.array_contains(arr, x)))
            else:
                s = F.regexp_count(t, F.lit(SCRIPT_PATTERNS[lang]))
            entries.append(F.struct(s.cast("int").alias("s"),
                                    F.lit(-langs.index(lang)).cast("int").alias("ni")))
        return F.array_max(F.array(*entries))

    w = words_arr if words_arr is not None else words(t)
    best = F.element_at(
        F.transform(F.array(F.transform(w, lambda x: F.lower(x))), build), 1)
    return F.element_at(
        F.transform(
            F.array(best),
            lambda b: F.when(b["s"] > 0, F.element_at(codes, -b["ni"] + 1))
                       .otherwise(F.lit(default)),
        ),
        1,
    )


#: three deterministic sample sentences per language — the driver gate
#: unions these with the (en/zh-only) synthetic corpus so EVERY marker list
#: and script range is exercised cross-engine, not just the two the corpus
#: happens to contain
_LANG_SAMPLES: dict[str, list[str]] = {
    "en": ["the cat and the dog sit in the garden for it is warm",
           "this is the house that jack built with all of it",
           "to be or not to be that is the question for the ages"],
    "de": ["der hund ist nicht mit der katze und der maus im haus",
           "das wetter ist heute schön und wir gehen zu dem park von hier",
           "ein mann und eine frau sind mit dem zug von berlin gekommen"],
    "es": ["el perro y la gata es en la casa por un dia entero",
           "los niños que juegan en el parque son muy felices y ruidosos",
           "es una historia que el pueblo cuenta por la noche"],
    "fr": ["le chien est dans les jardins pour une promenade et le chat",
           "la vie est belle et les gens sont heureux dans que pour",
           "une baguette et un café dans le matin est que pour les parisiens"],
    "it": ["il cane non è che un animale di casa per questo sono contento",
           "la vita è bella e di questo non si può che essere felici con una risata",
           "sono andato con il treno di roma per non perdere questo giorno"],
    "pt": ["o cão não é mais que um animal de casa para quem gosta como eu mas",
           "a vida é boa para quem sabe viver como se deve mas não mais que isso",
           "de manhã como pão com café para começar mais um dia como sempre"],
    "nl": ["het is een hond die niet met de kat wil spelen maar ook niet weg wil",
           "een fiets is voor veel mensen niet alleen vervoer maar ook plezier naar huis",
           "wij zijn met zijn allen naar het strand gegaan maar ook voor het eten"],
    "zh": ["今天天气很好我们去公园散步", "他们在学校学习中文和数学", "这本书的内容非常有意思"],
    "ja": ["きょうは天気がいいので公園へさんぽに行きます", "わたしはにほんごをべんきょうしています",
           "このほんはとてもおもしろいです"],
    "ko": ["오늘 날씨가 좋아서 우리는 공원에 갑니다", "저는 한국어를 공부하고 있습니다",
           "이 책은 정말 재미있습니다"],
    "ru": ["сегодня хорошая погода и мы идём гулять в парк", "я изучаю русский язык уже два года",
           "эта книга очень интересная и полезная"],
    "ar": ["الطقس جميل اليوم ونحن ذاهبون إلى الحديقة", "أنا أدرس اللغة العربية منذ سنتين",
           "هذا الكتاب مفيد وممتع جدا"],
    "hi": ["आज मौसम अच्छा है और हम पार्क जा रहे हैं", "मैं दो साल से हिंदी सीख रहा हूँ",
           "यह किताब बहुत रोचक और उपयोगी है"],
}


def write_lang_fixture(path: str) -> str:
    """The multilingual sample docs (``_LANG_SAMPLES``) as a parquet fixture:
    columns (doc_id, lang_true, text), doc_id dense in sample order —
    deterministic, no randomness."""
    import pyarrow as pa

    from feathr_online_spark.datagen import write_parquet_fixture

    rows = []
    for lang in sorted(_LANG_SAMPLES):
        for s in _LANG_SAMPLES[lang]:
            rows.append({"doc_id": len(rows), "lang_true": lang, "text": s})
    tbl = pa.Table.from_pylist(rows, schema=pa.schema(
        [pa.field("doc_id", pa.int64()), pa.field("lang_true", pa.string()),
         pa.field("text", pa.string())]))
    return write_parquet_fixture(path, lambda: [tbl])


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------

def content_fingerprint(text: ColumnOrName) -> Column:
    """Deterministic content fingerprint: md5 of the whitespace-normalized,
    lower-cased text — the exact-dedup key (md5 exists in every engine, so
    oracles replicate it).  Collapse before trim: ``trim`` strips spaces
    only, and after the ``\\s+`` → ' ' collapse every edge run is one space,
    so tab- or newline-bounded copies hash like the bare text."""
    norm = F.lower(F.trim(F.regexp_replace(_col(text), r"\s+", " ")))
    return F.md5(norm)


def rolling_fingerprint(text: ColumnOrName, n: int = 3) -> Column:
    """64-bit rolling fingerprint: min xxhash64 over word n-gram shingles —
    an order-sensitive near-dup key (Spark-native; no SQL oracle)."""
    return F.array_min(F.transform(shingles(words(text), n), lambda s: F.xxhash64(s)))
