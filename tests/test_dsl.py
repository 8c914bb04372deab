"""DSL front end: parse + compile + run the reference's OWN pipeline.conf
pipelines (conf/pipeline.conf) against DataFrame-backed lookup sources."""

import pytest
from pyspark.sql import functions as F

from feathr_online_spark.dsl import parse_pipelines
from tests.conftest import rows


def test_smoke_pipeline(spark):
    # the reference health-check pipeline t(x) | project y=x+42, z=x-42
    p = parse_pipelines("t(x as int)\n| project y=x+42, z=x-42\n;")["t"]
    out = p.run(spark, [{"x": 1}, {"x": 2}, {"x": 57}])
    assert rows(out) == [(1, 43, -41), (2, 44, -40), (57, 99, 15)]


def test_expression_precedence(spark):
    # reference precedence: or at additive level, and at multiplicative level —
    # so comparisons must be parenthesized before and/or, exactly as in piper
    p = parse_pipelines(
        't(a as int, b as int)\n'
        '| project m = a + b * 2, c = (a > 1) and (b > 1), s = "v=" + string(a)\n'
        '| project neg = -a + 3, idx_ok = case when a == 1 then "one" else "other" end\n'
        ';'
    )["t"]
    out = p.run(spark, [{"a": 1, "b": 10}, {"a": 3, "b": 0}])
    got = {r.a: (r.m, r.c, r.s, r.neg, r.idx_ok) for r in out.collect()}
    assert got[1] == (21, False, "v=1", 2, "one")
    assert got[3] == (3, False, "v=3", 0, "other")


def test_where_top_take_distinct(spark):
    src = (
        "p(x as int, k as string)\n"
        "| where x % 2 == 0\n"
        "| top 2 by x desc\n"
        ";"
    )
    p = parse_pipelines(src)["p"]
    out = p.run(spark, [{"x": i, "k": "a"} for i in range(10)])
    assert sorted(r.x for r in out.collect()) == [6, 8]


def test_explode_and_summarize(spark):
    src = (
        "p(id as int, arr as array)\n"
        "| explode arr as int\n"
        "| summarize n = count(), s = sum(arr) by id\n"
        ";"
    )
    p = parse_pipelines(src)["p"]
    out = p.run(spark, [{"id": 1, "arr": ["1", "2", "3"]}, {"id": 2, "arr": []}])
    assert rows(out) == [(3, 6, 1)]  # empty array row dropped (inner explode)


def test_is_null_and_case(spark):
    src = (
        "p(x as int)\n"
        '| project isn = x is null, nn = x is not null\n'
        ";"
    )
    p = parse_pipelines(src)["p"]
    out = p.run(spark, [{"x": 1}, {"x": None}])
    got = sorted([tuple(r)[1:] for r in out.collect()])
    assert got == [(False, True), (True, False)]


def test_lookup_and_join_via_dsl(spark):
    jt = spark.createDataFrame(
        [(1, "Jack", 30), (1, "Jane", 31), (2, "Jill", 33), (4, "Joan", 35)],
        "group_id int, name string, age int",
    )
    sources = {"join_test": (jt, "group_id")}
    src = (
        "test_join_inner(id as int)\n"
        "| join kind=left-inner name, age from join_test on id\n"
        "| summarize avg_age=avg(double(age)), names=array_agg(name) by id\n"
        "| explode names\n"
        ";"
    )
    p = parse_pipelines(src)["test_join_inner"]
    out = p.run(spark, [{"id": 1}, {"id": 2}, {"id": 3}], sources)
    got = sorted([(r.id, r.names) for r in out.collect()])
    assert got == [(1, "Jack"), (1, "Jane"), (2, "Jill")]


def test_nyc_taxi_local_compute_from_reference_conf(spark):
    """Run the reference demo pipeline nyc_taxi_demo_3_local_compute verbatim
    (conf/pipeline.conf:20-23), including its chrono time format."""
    src = open("/root/reference/conf/pipeline.conf").read()
    pipes = parse_pipelines(src)
    p = pipes["nyc_taxi_demo_3_local_compute"]
    out = p.run(spark, [{
        "pu_loc_id": 41, "do_loc_id": 57,
        "pu_time": "2020/4/1 0:25", "do_time": "2020/4/1 0:34",
        "trip_distance": 1.5, "fare_amount": 7.0,
    }])
    r = out.collect()[0]
    assert r.duration_second == 540
    assert r.speed_mph == pytest.approx(1.5 * 3600 / 540)


def test_reference_conf_parses_completely():
    """Every pipeline in the reference's demo conf parses and compiles."""
    src = open("/root/reference/conf/pipeline.conf").read()
    pipes = parse_pipelines(src)
    assert len(pipes) >= 12
    assert "movie_metadata" in pipes and "nyc_taxi_demo" in pipes


def test_movie_recommend_ids_chain(spark):
    """movie_recommend_ids (conf/pipeline.conf:83-87): a lookup source that
    returns an ARRAY field, exploded, then chained into a second lookup."""
    src = open("/root/reference/conf/pipeline.conf").read()
    p = parse_pipelines(src)["movie_recommend_ids"]
    recommender = spark.createDataFrame(
        [(7, ["100", "200", "300"])], "id long, ids array<string>"
    )
    links = spark.createDataFrame(
        [(100, 1100, 2100), (200, 1200, 2200)], "movieId long, imdbId long, tmdbId long"
    )
    out = p.run(spark, [{"id": 7}], {"recommender": (recommender, "id"),
                                     "links": (links, "movieId")})
    got = sorted((r.movie_id, r.tmdb_id) for r in out.collect())
    # 300 has no link row → lookup null-fills (left-outer semantics)
    assert got == [(100, 2100), (200, 2200), (300, None)]


def test_geoip_explode_chain(spark):
    """geoip_demo_explode (conf/pipeline.conf:5-8): explode an input array,
    then lookup on the exploded value."""
    src = open("/root/reference/conf/pipeline.conf").read()
    p = parse_pipelines(src)["geoip_demo_explode"]
    geo = spark.createDataFrame(
        [("1.1.1.1", "AU", "Sydney"), ("8.8.8.8", "US", "MountainView")],
        "ip string, country string, city string",
    )
    out = p.run(spark, [{"ip": ["1.1.1.1", "8.8.8.8", "9.9.9.9"]}],
                {"ipgeolocation": (geo, "ip")})
    got = sorted((r.ip, r.country, r.city) for r in out.collect())
    assert got == [("1.1.1.1", "AU", "Sydney"), ("8.8.8.8", "US", "MountainView"),
                   ("9.9.9.9", None, None)]


def test_movie_metadata_shape(spark):
    """movie_metadata exercises chained lookups, json array extraction,
    string concat, project-remove (conf/pipeline.conf:62-70)."""
    src = open("/root/reference/conf/pipeline.conf").read()
    p = parse_pipelines(src)["movie_metadata"]
    links = spark.createDataFrame([(5, 111, 901)], "movieId long, imdbId long, tmdbId long")
    metadata = spark.createDataFrame(
        [(901, "[{'name': 'Drama'}, {'name': 'Crime'}]", "http://h", 111, "great film",
          "/poster.jpg", "1994-09-23", 142.0, "The Movie", 8.7, 21862)],
        "id long, genres string, homepage string, imdb_id long, overview string, "
        "poster_path string, release_date string, runtime double, title string, "
        "vote_average double, vote_count long",
    )
    sources = {"links": (links, "movieId"), "metadata": (metadata, "id")}
    out = p.run(spark, [{"id": 5}], sources)
    r = out.collect()[0]
    assert r.image_url == "https://image.tmdb.org/t/p/original/poster.jpg"
    assert r.genres == ["Drama", "Crime"]
    assert r.tmdb_url == "https://www.themoviedb.org/movie/901"
    assert r.imdb_url == "https://www.imdb.com/title/111"
    assert "poster_path" not in out.columns and "genres1" not in out.columns


def test_dynamic_columns_parse_on_use(spark):
    """Columns without `as type` are Dynamic (dsl_parser.rs:45-51): any
    payload rides the JSON carrier and is parsed where used — arithmetic as
    numbers, concat as text, dot/index access as JsonPath steps."""
    p = parse_pipelines(
        't(a, obj, arr, s as string)\n'
        '| project twice = a * 2, msg = s + a, x = obj.x, first = arr[0]\n'
        ';'
    )["t"]
    rows = [{"a": 21, "obj": {"x": 7}, "arr": ["p", "q"], "s": "v="}]
    r = p.run(spark, rows).collect()[0]
    assert r.twice == 42.0
    assert r.msg == "v=21"
    assert r.x == "7"         # dynamic result stays carrier text
    assert r.first == "p"


def test_dynamic_comparison_and_where(spark):
    p = parse_pipelines(
        't(a, s as string)\n'
        '| where a > 10\n'
        '| project label = case when a > 100 then "big" else "small" end\n'
        ';'
    )["t"]
    rows = [{"a": 5, "s": "x"}, {"a": 50, "s": "y"}, {"a": 500, "s": "z"}]
    got = sorted(r.label for r in p.run(spark, rows).collect())
    assert got == ["big", "small"]


def test_parser_accepts_reference_grammar_vectors():
    """Parse-acceptance vectors from the reference's own parser tests
    (dsl_parser.rs:365-421): comments, chained dot/index postfixes, the full
    operator soup, and parenthesized case clauses must all tokenize+parse."""
    from feathr_online_spark.dsl import Parser, tokenize

    vectors = [
        "1 #2222\n        #dasdfasdf\n        +1",                      # test_parse_comments
        'a + b.x.y + f.a.b.c[12] + "ddd\\t"',                           # test_parse1
        "(f(12)+a[2] + x.y.z[78] -b)[12] [34][56]",                     # test_array_index
        "case when (a > 1) then (2) when a>2 then 2 else 4 end",        # test_case_clause
        "1+2-3*4/5%6 div 7",                                            # test_operators core
    ]
    for src in vectors:
        ast = Parser(tokenize(src)).expr()
        assert ast is not None, src


def test_dynamic_vs_dynamic_runtime_dispatch(spark):
    """dyn-vs-dyn comparisons and `+` dispatch on the payloads' runtime
    shapes like the reference Value model: numbers compare/add numerically
    ('9' > '10' must be FALSE), strings concatenate (never silent nulls)."""
    p = parse_pipelines(
        "t(a, b)\n"
        "| project gt = a > b, eq = a == b, plus = a + b\n"
        ";"
    )["t"]
    rows = [
        {"a": 9, "b": 10},          # numeric: 9 > 10 false, 9+10=19
        {"a": 2, "b": 2.0},         # 2 == 2.0 numerically
        {"a": "foo", "b": "bar"},   # strings: concat
    ]
    got = p.run(spark, rows).collect()
    by_plus = {r.plus: r for r in got}
    assert by_plus["19"].gt is False
    assert by_plus["4"].eq is True          # 2 + 2.0 = 4 (integral render)
    assert by_plus["foobar"].plus == "foobar"


def test_case_function_with_literal_condition(spark):
    """case() through the DSL passes literal conditions as python natives —
    the registry must wrap them (function/case.rs accepts constant conds)."""
    p = parse_pipelines('t(x as int)\n| project y = case(true, 1, 0)\n;')["t"]
    assert p.run(spark, [{"x": 5}]).collect()[0].y == 1


def test_integral_division_exact_beyond_double(spark):
    """64-bit operands above 2^53 must divide exactly (SQL div, not a
    double round-trip)."""
    big = 9007199254740993  # 2^53 + 1
    p = parse_pipelines("t(a as long)\n| project q = a / 1, d = a div 1\n;")["t"]
    r = p.run(spark, [{"a": big}]).collect()[0]
    assert r.q == big and r.d == big
    # truncation direction parity with Rust: toward zero
    p2 = parse_pipelines("t(a as int)\n| project q = a / 2, d = a div 2\n;")["t"]
    r2 = p2.run(spark, [{"a": -7}]).collect()[0]
    assert r2.q == -3 and r2.d == -3


def test_dynamic_string_payload_chained(spark):
    """ADVICE r2 (high): a JsonPath access already unwraps string scalars
    (get_json_object unquotes), so chaining the still-'dynamic' result into
    concat/comparison must NOT re-unwrap it to null.  Reference Value model:
    obj.name + "!" == "bob!", arr[0] == "p" is true."""
    p = parse_pipelines(
        't(obj, arr)\n'
        '| project greet = obj.name + "!", is_p = arr[0] == "p", '
        'both = obj.name + arr[1]\n'
        ';'
    )["t"]
    r = p.run(spark, [{"obj": {"name": "bob"}, "arr": ["p", "q"]}]).collect()[0]
    assert r.greet == "bob!"
    assert r.is_p is True
    assert r.both == "bobq"


def test_len_dispatches_on_static_type(spark):
    """Reference len.rs: len/length = element count for arrays, char count
    for strings — the DSL dispatches on its tracked static types (VERDICT r2
    #3); dynamic operands dispatch at runtime on the JSON carrier."""
    p = parse_pipelines(
        't(s as string, a as array, d)\n'
        '| project ls = len(s), la = length(a), ld = len(d)\n'
        ';'
    )["t"]
    rows = [
        {"s": "abc", "a": ["x", "y", "z", "w"], "d": [1, 2, 3]},
        {"s": "", "a": [], "d": "hello"},
    ]
    got = {r.ls: (r.la, r.ld) for r in p.run(spark, rows).collect()}
    assert got[3] == (4, 3)   # len("abc")=3, length(arr4)=4, len(dyn arr3)=3
    assert got[0] == (0, 5)   # len("")=0, length([])=0, len(dyn "hello")=5


def test_reference_deployment_end_to_end(spark):
    """THE migration test: run the reference's own pipeline.conf against its
    own lookup.json and its own data files — nyc_taxi_demo resolves the
    feathrci lookup from test-data/nyc_online.csv.gz and locationsvc from an
    injected fetcher (its resultPath JsonPaths honored); test_join_inner /
    test_join_outer join LIVE through the sqlite source (test-data/test.db)
    and must reproduce the reference's join goldens."""
    from pyspark.sql import functions as F

    from feathr_online_spark.sources.registry import SourceRegistry, load_lookup_conf

    reg = SourceRegistry(spark)
    load_lookup_conf(
        reg, "/root/reference/conf/lookup.json",
        json_callables={"locationsvc": lambda key: f'{{"id":{key},"name":"LOC{key}"}}'},
        field_types={"join_test": "name string, age int"},
    )
    sources = reg.as_dsl_sources()
    pipes = parse_pipelines(open("/root/reference/conf/pipeline.conf").read())

    # pick two real keys from the csv.gz so the lookups hit
    fares = {r.key0: (r.f_location_avg_fare, r.f_location_max_fare)
             for r in reg.get("feathrci").collect()}
    k1, k2 = sorted(fares)[0], sorted(fares)[-1]
    rows = [{"pu_loc_id": int(k1), "do_loc_id": int(k2),
             "pu_time": "2020/1/1 10:00", "do_time": "2020/1/1 11:30",
             "trip_distance": 30.0, "fare_amount": 60.0}]
    r = pipes["nyc_taxi_demo"].run(spark, rows, sources).collect()[0]
    assert r.pu_loc_avg_fare == fares[k1][0] and r.do_loc_max_fare == fares[k2][1]
    assert r.pu_loc_name == f"LOC{k1}" and r.do_loc_name == f"LOC{k2}"
    assert r.duration_second == 5400.0
    assert abs(r.speed_mph - 20.0) < 1e-9

    # join goldens through the LIVE sqlite source (test_db.sql contents)
    out = pipes["test_join_inner"].run(spark, [{"id": 1}, {"id": 2}, {"id": 3}], sources)
    got = sorted((r.id, r.names, r.avg_age) for r in out.collect())
    assert [g[1] for g in got if g[0] == 1] == ["Jack", "Jane", "John"]
    assert [g[1] for g in got if g[0] == 2] == ["Jill", "Jose"]
    assert all(g[0] != 3 for g in got)          # left-inner drops the miss
    assert {g[2] for g in got if g[0] == 1} == {31.0}
    outer = pipes["test_join_outer"].run(spark, [{"id": 3}], sources)
    assert outer.count() == 1                    # null name explodes? no — [null] keeps one row


def test_geoip_demo_with_injected_fetcher(spark):
    """geoip_demo + geoip_demo_explode from the reference conf: the
    ipgeolocation source's ${IPGEOLOCATION_APIKEY} is irrelevant once a
    fetcher is injected — the loader must register it anyway and honor its
    resultPath (country_name/city JsonPaths)."""
    from feathr_online_spark.sources.registry import SourceRegistry, load_lookup_conf

    def fetch(ip):
        return f'{{"country_name":"Land of {ip}","city":"{ip}ville","isp":"x"}}'

    reg = SourceRegistry(spark)
    report = load_lookup_conf(reg, "/root/reference/conf/lookup.json",
                              json_callables={"ipgeolocation": fetch})
    assert report["registered"]["ipgeolocation"] == "HttpJsonApiSource"
    pipes = parse_pipelines(open("/root/reference/conf/pipeline.conf").read())
    out = pipes["geoip_demo"].run(spark, [{"ip": "1.2.3.4"}], reg.as_dsl_sources()).collect()[0]
    assert out.country == "Land of 1.2.3.4" and out.city == "1.2.3.4ville"
    ex = pipes["geoip_demo_explode"].run(
        spark, [{"ip": ["8.8.8.8", "9.9.9.9"]}], reg.as_dsl_sources()
    ).collect()
    assert sorted(r.city for r in ex) == ["8.8.8.8ville", "9.9.9.9ville"]


def test_explode_dynamic_column(spark):
    """explode over an UNTYPED (dynamic) column: the reference explodes any
    Value::Array (explode_transformation.rs) — the JSON carrier's elements
    surface as dynamic values (strings unquoted, objects compact JSON) and
    chain into further expressions; empty/non-array payloads drop (inner
    explode).  `as int` casts the elements."""
    p = parse_pipelines(
        't(id as int, v)\n'
        '| explode v\n'
        '| project tag = v + "!"\n'
        ';'
    )["t"]
    rows = [
        {"id": 1, "v": [1, 2]},
        {"id": 2, "v": ["x", {"a": 1}]},
        {"id": 3, "v": []},          # drops
        {"id": 4, "v": "scalar"},    # not an array → drops
    ]
    got = sorted((r.id, r.tag) for r in p.run(spark, rows).collect())
    assert got == [(1, "1!"), (1, "2!"), (2, "x!"), (2, '{"a":1}!')]

    p2 = parse_pipelines('t(v)\n| explode v as int\n| project d = v * 2\n;')["t"]
    got2 = sorted(r.d for r in p2.run(spark, [{"v": [3, 4]}]).collect())
    assert got2 == [6, 8]


def test_where_and_top_on_dynamic(spark):
    """A bare dynamic predicate unwraps to boolean (reference get_bool);
    `top N by <dynamic>` orders numeric payloads NUMERICALLY — carrier-text
    ordering would put '9' above '10'."""
    p = parse_pipelines('t(id as int, flag, score)\n| where flag\n| top 2 by score desc\n;')["t"]
    rows = [
        {"id": 1, "flag": True, "score": 9},
        {"id": 2, "flag": True, "score": 10},
        {"id": 3, "flag": False, "score": 100},
        {"id": 4, "flag": True, "score": 2},
    ]
    got = [r.id for r in p.run(spark, rows).collect()]
    assert got == [2, 1]   # 10 > 9 numerically; id=3 filtered out


def test_summarize_over_dynamic(spark):
    """Aggregating a dynamic column: sum/avg take the numeric view; min/max
    order numerically (carrier text would rank '9' above '10') and return
    the carrier; count/array_agg work on the scalar text."""
    p = parse_pipelines(
        't(g as int, v)\n'
        '| summarize s = sum(v), mn = min(v), mx = max(v), n = count() by g\n'
        ';'
    )["t"]
    rows = [{"g": 1, "v": 9}, {"g": 1, "v": 10}, {"g": 1, "v": 2},
            {"g": 2, "v": "b"}, {"g": 2, "v": "a"}]
    got = {r.g: (r.s, r.mn, r.mx, r.n) for r in p.run(spark, rows).collect()}
    assert got[1] == (21.0, "2", "10", 3)      # numeric order: max is 10, not '9'
    assert got[2] == (None, "a", "b", 2)       # text payloads: lexical, sum null


def test_review_fixes_dynamic_edges(spark):
    """Round-3 review regressions: to_json of a JsonPath-derived string
    carrier re-quotes (the carrier is unquoted after get_json_object); a
    JSON-null dynamic payload is SQL NULL, not the text 'null'; dynamic top
    keys keep SQL nulls null so nulls-first/last flags work."""
    p = parse_pipelines(
        't(obj, d)\n'
        '| project j = to_json(obj.name), dn = d is null\n'
        ';'
    )["t"]
    out = p.run(spark, [{"obj": {"name": "bob"}, "d": None}]).collect()[0]
    assert out.j == '"bob"'          # re-quoted, valid JSON
    assert out.dn is True

    # null carrier text must not resurrect as 'null'
    p2 = parse_pipelines('t(d)\n| project cat = d + "!"\n;')["t"]
    r2 = p2.run(spark, [{"d": None}]).collect()[0]
    assert r2.cat is None

    # nulls first flag works on dynamic sort keys
    p3 = parse_pipelines('t(id as int, s)\n| top 2 by s asc nulls first\n;')["t"]
    rows = [{"id": 1, "s": 5}, {"id": 2, "s": None}, {"id": 3, "s": 1}]
    got = [r.id for r in p3.run(spark, rows).collect()]
    assert got == [2, 3]             # null leads, then smallest number


def test_string_literal_args_neither_column_capture_nor_not_iterable(spark):
    """r4 regression pair: (a) a string literal must NEVER resolve as a
    column reference (upper("s1") is the literal 's1' even though a column
    s1 exists); (b) the functions whose pyspark wrappers demand plain-str
    params (concat_ws/array_join/substring_index/split/...) must still
    receive natives and not F.lit (NOT_ITERABLE at plan build)."""
    src = ('t(s1 as string, arr as array)\n'
           '| project up = upper("s1"),\n'
           '          cw = concat_ws("-", s1, s1),\n'
           '          aj = array_join(arr, "|"),\n'
           '          si = substring_index(s1, " ", 1),\n'
           '          sp = split_part("a,b,c", ",", 2),\n'
           '          tr = trim("  x  ")\n'
           ';')
    from feathr_online_spark.dsl import parse_pipelines

    p = parse_pipelines(src)["t"]
    out = p.run(spark, [{"s1": "hello world", "arr": ["p", "q"]}]).collect()[0]
    assert out.up == "S1"                  # literal, NOT the column's "HELLO WORLD"
    assert out.cw == "hello world-hello world"
    assert out.aj == "p|q"
    assert out.si == "hello"
    assert out.sp == "b"
    assert out.tr == "x"


def _stage(line: str) -> str:
    return f"t(x as int, s as string)\n| {line}\n;"


@pytest.mark.parametrize("src", [
    _stage("top 3 x desc"),                                    # missing by
    _stage("project y = case when x > 1 1 else 2 end"),        # missing then
    _stage("project y = case when x > 1 then 1 else 2"),       # missing end
    _stage("join f from src on x"),                            # missing kind=
    _stage("lookup f src on x"),                               # missing from
    _stage("lookup f from src x"),                             # missing on
    _stage("frobnicate x"),                                    # unknown verb
    "t(x as blob)\n| where x > 1\n;",                          # unknown type
    "t(x as int)\n| where x +",                                # expression cut off at EOF
    "t(x as int)\n| project y = f(1,",                         # unclosed call
    "t(x as array)\n| project y = x[1",                        # unclosed index
    "t(x as int)\n| summarize n = count(",                     # unclosed aggregate
    "t(x as int)\n| where x > 1",                              # missing ;
    "t(x @ int)\n;",                                           # tokenizer error
    _stage("take abc"),                                        # non-integer count
    "t(x as int)\n| take\n;",                                  # missing count
    _stage("top x by s"),                                      # non-integer top count
    _stage("take 1.5"),
])
def test_parser_rejects_malformed_dsl(src):
    """Malformed DSL fails at parse time with SyntaxError — never a leaked
    ValueError from a count, never a silently accepted pipeline."""
    with pytest.raises(SyntaxError):
        parse_pipelines(src)


_MINUTE_FMT = "%Y-%m-%d %H:%M"


def test_timestamp_with_timezone_equals_registry(spark):
    """The 3-argument (timezone) forms of timestamp/unix_timestamp compile
    through the one call path and equal the registry functions called
    directly: Tokyo wall time 03:04 is 18:04 UTC the day before."""
    from feathr_online_spark.functions.registry import fn

    fmt = _MINUTE_FMT
    p = parse_pipelines(
        "t(s as string)\n"
        f'| project tk = timestamp(s, "{fmt}", "Asia/Tokyo"), u = unix_timestamp(s, "{fmt}", "UTC")\n'
        ";"
    )["t"]
    out = p.run(spark, [{"s": "2024-01-02 03:04"}]).withColumns({
        "tk_direct": fn("timestamp")(F.col("s"), fmt, "Asia/Tokyo"),
        "u_direct": fn("unix_timestamp")(F.col("s"), fmt, "UTC"),
    })
    minute = "yyyy-MM-dd HH:mm"
    r = out.select(*[F.date_format(c, minute).alias(c) for c in ("tk", "tk_direct")],
                   "u", "u_direct").collect()[0]
    assert r.tk == r.tk_direct == "2024-01-01 18:04"
    assert r.u == r.u_direct == 1704164640.0


def test_timestamp_format_on_dynamic_column(spark):
    """A dynamic carrier is unwrapped before the format parse, so
    timestamp/unix_timestamp give the same instant as on a typed column."""
    fmt = _MINUTE_FMT
    p = parse_pipelines(
        "t(s as string, d)\n"
        f'| project ts = timestamp(s, "{fmt}"), td = timestamp(d, "{fmt}"),\n'
        f'          us = unix_timestamp(s, "{fmt}"), ud = unix_timestamp(d, "{fmt}")\n'
        ";"
    )["t"]
    r = p.run(spark, [{"s": "2024-01-02 03:04", "d": "2024-01-02 03:04"}]).collect()[0]
    assert r.td is not None and r.td == r.ts
    assert r.ud == r.us == 1704164640.0
