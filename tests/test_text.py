"""Text analysis: token counts, quality features, language ID, fingerprints."""

import pytest
from pyspark.sql import functions as F

from feathr_online_spark.operators.text import (
    content_fingerprint,
    lang_id,
    quality_features_bp,
    quality_score_bp,
    rolling_fingerprint,
    token_count_bpe,
    token_count_ws,
)


def test_token_counts(spark):
    df = spark.createDataFrame([("hello world  foo",), ("a b,c 12!",)], "t string")
    ws = [r.c for r in df.select(token_count_ws("t").alias("c")).collect()]
    assert ws == [3, 3]
    bpe = [r.c for r in df.select(token_count_bpe("t").alias("c")).collect()]
    # "a b,c 12!" → a, b, ',', c, 12, '!' = 6
    assert bpe == [3, 6]


def test_quality_features_and_score(spark):
    df = spark.createDataFrame([("The cat and the dog sat on the mat.",)], "t string")
    feats = df.withColumns(quality_features_bp("t")).collect()[0]
    assert feats.n_words == 9
    # stopwords: The, and, the, on, the → 5 of 9 = floor(50000 / 9) bp
    assert feats.stopword_bp == 5555
    score = df.select(quality_score_bp("t").alias("s")).collect()[0]["s"]
    assert 0 <= score <= 10000


def test_lang_id(spark):
    rows = [
        ("the quick brown fox is in the garden with the dog",),
        ("der hund ist nicht mit der katze und der maus",),
        ("el perro y la gata es en la casa por un dia",),
        ("le chien est dans les jardins pour une promenade et le chat",),
        ("今天天气很好我们去公园散步",),
        ("zzz qqq xxx",),
        # r5 marker languages
        ("il cane non è che un animale di casa per questo sono contento",),
        ("o cão não é mais que um animal de casa para quem gosta como eu mas",),
        ("het is een hond die niet met de kat wil spelen maar ook niet weg wil",),
        # r5 script-range languages
        ("сегодня хорошая погода и мы идём гулять в парк",),
        ("الطقس جميل اليوم ونحن ذاهبون إلى الحديقة",),
        ("आज मौसम अच्छा है और हम पार्क जा रहे हैं",),
        ("오늘 날씨가 좋아서 우리는 공원에 갑니다",),
        ("きょうは天気がいいので公園へさんぽに行きます",),  # kana outweighs kanji
    ]
    df = spark.createDataFrame(rows, "t string")
    got = [r.l for r in df.select(lang_id("t").alias("l")).collect()]
    assert got == ["en", "de", "es", "fr", "zh", "unknown",
                   "it", "pt", "nl", "ru", "ar", "hi", "ko", "ja"]


def test_lang_fixture_classifies_as_planted(spark, tmp_path):
    """Every planted multilingual sample doc must classify as its own
    language — the property the extended lang_id gate relies on."""
    from feathr_online_spark.operators.text import write_lang_fixture

    p = str(tmp_path / "lang.parquet")
    write_lang_fixture(p)
    df = spark.read.parquet(p)
    bad = df.select("lang_true", lang_id("text").alias("lang_pred")) \
            .filter(F.col("lang_true") != F.col("lang_pred")).collect()
    assert bad == [], bad


def test_content_fingerprint_normalizes(spark):
    df = spark.createDataFrame([("Hello  World",), ("hello world",), ("other",)], "t string")
    fps = [r.f for r in df.select(content_fingerprint("t").alias("f")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_exact_dedup_ignores_edge_whitespace(spark):
    """Tab- or newline-bounded copies are the same content: the fingerprint
    collapses every ``\\s`` run before trimming, so one id survives."""
    from feathr_online_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame([(1, "foo bar"), (2, "\tfoo bar"), (3, "foo bar\n")],
                               "id int, t string")
    assert [r.id for r in exact_dedup(df, "t", "id").collect()] == [1]


@pytest.fixture(scope="module")
def vt_corpus(sf_dir, tmp_path_factory):
    """A documents table whose copies are bounded or word-split by vertical
    tabs (U+000B): Java's ``\\s`` includes it, RE2's does not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = f"{sf_dir}/documents.parquet"
    base = pq.read_table(src).slice(0, 60).to_pylist()
    vt = chr(11)
    rows = list(base)
    for i in range(20):
        rows.append(dict(base[i], doc_id=1000 + i, text=vt + base[i]["text"]))
        rows.append(dict(base[i], doc_id=2000 + i, text=base[i]["text"] + vt))
        rows.append(dict(base[20 + i], doc_id=3000 + i,
                         text=base[20 + i]["text"].replace(" ", vt)))
    out = tmp_path_factory.mktemp("vt_corpus")
    pq.write_table(pa.Table.from_pylist(rows, schema=pq.read_schema(src).remove_metadata()),
                   out / "documents.parquet")
    return str(out)


@pytest.mark.parametrize("gate", ["dedup_exact", "text_quality", "text_repetition",
                                  "dedup_ngram"])
def test_vertical_tab_text_matches_duckdb_oracle(spark, vt_corpus, gate):
    """Engine and DuckDB oracle agree on text holding vertical tabs: the
    oracles' whitespace class must include U+000B like Java's ``\\s``."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracle import canon

    got = entry.queries()[gate](spark, vt_corpus).toPandas()
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{vt_corpus}/documents.parquet')")
        want = con.execute(entry.oracle_sql()[gate]).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert (canon(got.itertuples(index=False), list(got.columns))
            == canon(want.itertuples(index=False), list(want.columns)))


def test_rolling_fingerprint_near_dup_stability(spark):
    base = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame([(base,), (base + " extra",), ("totally different words here now ok",)], "t string")
    fps = [r.f for r in df.select(rolling_fingerprint("t").alias("f")).collect()]
    assert fps[0] == fps[1]  # min-shingle-hash robust to suffix append
    assert fps[0] != fps[2]


def test_repetition_signals_golden(spark):
    """Hand-computed Gopher-style repetition signals (token-level, basis
    points with floor — operators/text.py repetition_signals_bp)."""
    from pyspark.sql import functions as F

    from feathr_online_spark.operators.text import is_repetitive, repetition_signals_bp

    rows = [
        ("plain", "one two three four five six"),            # no repetition
        ("loop", "ab cd ab cd ab cd ab cd"),                 # one bigram dominates
        ("stutter", "go go go go go go go go go go"),        # single token
        ("short", "hi"),                                     # no bigrams/5-grams
        ("empty", "   "),                                    # no tokens at all
    ]
    df = spark.createDataFrame(rows, "name string, text string")
    s = repetition_signals_bp(F.col("text"))
    got = {r.name: (r.dw, r.t2, r.d5, r.rep) for r in df.select(
        "name", s["dup_word_bp"].alias("dw"), s["top2_bp"].alias("t2"),
        s["dup5_bp"].alias("d5"), is_repetitive("text").alias("rep")).collect()}
    # plain: 6 distinct of 6; top bigram count 1 → floor(2*10000/6)=3333; 2
    # distinct 5-grams of 2.  NOT flagged: 6 words < the min-10-words guard
    # (top2_bp on short docs reflects length, not repetition — r4 review fix)
    assert got["plain"] == (0, 3333, 0, False)
    # loop: 8 tokens, 2 distinct → dup_word 7500; "ab cd" appears 4 of 7
    # bigrams → min(4*2*10000/8, 10000) = 10000; 5-grams: 4 total, 2 distinct
    # ("ab cd ab cd ab", "cd ab cd ab cd") → 5000
    assert got["loop"] == (7500, 10000, 5000, False)  # 8 words < 10 guard
    # stutter: 10 tokens 1 distinct → 9000; "go go" ×9 → cap 10000; 6
    # 5-grams 1 distinct → floor(5*10000/6)=8333; 10 words → guard passes
    assert got["stutter"] == (9000, 10000, 8333, True)
    # the guard is a parameter: disabled, the short repetitive doc flags too
    from feathr_online_spark.operators.text import is_repetitive as _isr
    flagged = df.select("name", _isr("text", min_words=0).alias("r")).collect()
    assert {r.name: r.r for r in flagged}["loop"] is True
    assert got["short"] == (0, 0, 0, False)
    assert got["empty"] == (0, 0, 0, False)


def _java_ws_words(s: str) -> list[str]:
    """Reference tokenizer: split on Java's ``\\s`` class [ \\t\\n\\x0B\\f\\r]
    and drop empty tokens."""
    import re

    return [t for t in re.split(r"[ \t\n\x0b\f\r]+", s) if t]


def test_words_matches_java_whitespace_reference(spark):
    """words() against a pure-Python reference on the inputs the gates do
    not cover: every ``\\s`` character as runs and at both edges, empty and
    whitespace-only text, and unicode spaces (U+00A0, U+3000) that Java's
    ``\\s`` does not split — they stay inside a token."""
    from feathr_online_spark.operators.text import words

    inputs = ["", " ", "\t", "\n", "  \t\n\r\x0b\x0c  ", "foo", "foo bar"]
    for ws in [" ", "\t", "\n", "\r", "\x0c", "\x0b"]:
        for run in (ws, ws * 3, ws + " " + ws):
            inputs += [run + "foo bar", "foo bar" + run, "foo" + run + "bar",
                       run + "foo" + run + "bar" + run, run]
    inputs += ["a b c", " foo ", "x\u00a0y", "\u00a0", "x\u3000y", "\u3000",
               "\u00a0foo\u3000", " \u3000 z\t\u00a0"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(inputs)], "i int, t string")
    got = {r.i: list(r.w) for r in df.select("i", words("t").alias("w")).collect()}
    want = {i: _java_ws_words(t) for i, t in enumerate(inputs)}
    bad = {repr(inputs[i]): (got[i], want[i]) for i in want if got[i] != want[i]}
    assert not bad, bad
