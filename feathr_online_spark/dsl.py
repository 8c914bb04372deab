"""Piper DSL front end: tokenizer + recursive-descent parser + compiler to
DataFrame transformations.

Grammar: the reference's DSL-syntax.txt; operator precedence reproduced from
its precedence-climbing parser (piper/src/pipeline/parser/dsl_parser.rs:
169-219) as the ``_BINARY_LEVELS`` table below, which is unusual — lowest to
highest:

    comparison (> < >= <= == != <>)
    additive   (+ - or)
    multiplicative (* / div % & && and)
    unary      (+ - ~ ! not)
    postfix    (is null / is not null)
    primary    (case, function call, dot member, literal, parens; [index]*)

The compiler emits the same Pipeline verbs / Column expressions as the
builder API, so a user can run an existing pipeline.conf unchanged against
DataFrame-backed lookup sources:

    pipelines = parse_pipelines(open("pipeline.conf").read())
    out = pipelines["nyc_taxi_demo_3_local_compute"].apply(df, sources)

Everything compiles to one Catalyst plan — the DSL adds zero runtime overhead
over hand-written DataFrame code.
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from feathr_online_spark.functions import piper as P
from feathr_online_spark.functions.aggregations import agg_fn
from feathr_online_spark.functions.registry import fn as lookup_fn
from feathr_online_spark.operators.pipeline import Pipeline

# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

# group names are the token kinds.  The first num alternative that matches
# wins, so float precedes dec (`1.5` is one token) and hex/bin precede dec
# (`0x1F` is not `0` followed by an identifier).
_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+|\#[^\r\n]*)
  | (?P<num>\d+\.\d*|\.\d+|0[xX][0-9a-fA-F]+|0[bB][01]+|\d+)
  | (?P<id>[a-zA-Z][a-zA-Z0-9_]*(?:-(?:rename|remove|keep|inner|outer|error|expand))*)
  | (?P<str>"(?:[^"\\\r\n]|\\["\\rnt])*")
  | (?P<op><>|!=|>=|<=|==|&&|[|;,()\[\]=<>+\-*/%&~!.])
    """,
    re.VERBOSE,
)

_TYPES = {"int", "long", "float", "double", "string", "datetime", "array", "object", "dynamic"}

_SPARK_TYPES = {
    "int": "int", "long": "long", "float": "float", "double": "double",
    "string": "string", "datetime": "timestamp", "array": "array<string>",
    "object": "map<string,string>", "dynamic": "string",
}


@dataclass
class Tok:
    kind: str  # id | num | str | op
    text: str
    pos: int


def tokenize(src: str) -> list[Tok]:
    out: list[Tok] = []
    i = 0
    while i < len(src):
        m = _TOKEN_RE.match(src, i)
        if not m:
            raise SyntaxError(f"DSL tokenize error at {i}: {src[i:i+30]!r}")
        i = m.end()
        if m.lastgroup != "ws":
            out.append(Tok(m.lastgroup, m.group(), m.start()))
    return out


# ---------------------------------------------------------------------------
# Parser (recursive descent mirroring the reference precedence table)
# ---------------------------------------------------------------------------

# binary operator levels, lowest precedence first: operator token (word
# operators lowercased) → AST op
_BINARY_LEVELS = (
    {">": ">", "<": "<", ">=": ">=", "<=": "<=", "==": "==", "!=": "!=", "<>": "!="},
    {"+": "+", "-": "-", "or": "or"},
    {"*": "*", "/": "/", "%": "%", "&": "&", "&&": "and", "div": "div", "and": "and"},
)


def _is_kw(t: Tok | None, *words: str) -> bool:
    return t is not None and t.kind == "id" and t.text.lower() in words


@dataclass
class Parser:
    toks: list[Tok]
    i: int = 0

    def peek(self, k: int = 0) -> Tok | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def at(self, text: str) -> bool:
        t = self.peek()
        return t is not None and t.text == text

    def at_kw(self, *words: str) -> bool:
        return _is_kw(self.peek(), *words)

    def take(self, text: str | None = None) -> Tok:
        t = self.peek()
        if t is None:
            raise SyntaxError("unexpected end of DSL input")
        if text is not None and t.text != text:
            raise SyntaxError(f"expected {text!r} at {t.pos}, got {t.text!r}")
        self.i += 1
        return t

    def skip(self, text: str) -> bool:
        """Consume an optional ``text`` token; whether it was there."""
        if self.at(text):
            self.i += 1
            return True
        return False

    def take_id(self) -> str:
        t = self.peek()
        if t is None or t.kind != "id":
            raise SyntaxError(f"expected identifier, got {t.text if t else 'EOF'}")
        self.i += 1
        return t.text

    def take_int(self) -> int:
        t = self.take()
        if t.kind != "num" or not t.text.isdecimal():
            raise SyntaxError(f"expected an integer at {t.pos}, got {t.text!r}")
        return int(t.text)

    def take_kw(self, word: str) -> None:
        """Consume the required keyword ``word`` (any case)."""
        if not self.at_kw(word):
            t = self.peek()
            raise SyntaxError(f"expected {word!r} at {t.pos}, got {t.text!r}" if t
                              else f"expected {word!r}, got EOF")
        self.i += 1

    def skip_kw(self, *words: str) -> str | None:
        """Consume an optional keyword; its lowercased text, or None."""
        return self.take().text.lower() if self.at_kw(*words) else None

    def items(self, item) -> list:
        """``item (, item)*`` → the item() results."""
        out = [item()]
        while self.skip(","):
            out.append(item())
        return out

    def call_args(self) -> list:
        """``( [expr (, expr)*] )``"""
        self.take("(")
        args = [] if self.at(")") else self.items(self.expr)
        self.take(")")
        return args

    # -- expressions ---------------------------------------------------------

    def expr(self, level: int = 0):
        """Left-associative binary operators of ``_BINARY_LEVELS[level]``
        and above; past the last level come the unary operators."""
        if level == len(_BINARY_LEVELS):
            return self._unary()
        ops = _BINARY_LEVELS[level]
        left = self.expr(level + 1)
        while True:
            t = self.peek()
            op = t and ops.get(t.text.lower() if t.kind == "id" else t.text)
            if op is None:
                return left
            self.take()
            left = ("bin", op, left, self.expr(level + 1))

    def _unary(self):
        t = self.peek()
        if t and (t.text in ("+", "-", "~", "!") or _is_kw(t, "not")):
            self.take()
            return ("un", t.text.lower(), self._unary())
        return self._postfix()

    def _postfix(self):
        e = self._primary()
        while True:
            if self.at_kw("is"):
                negated = _is_kw(self.peek(1), "not")
                if not _is_kw(self.peek(1 + negated), "null"):
                    return e
                self.i += 2 + negated
                e = ("un", "is not null" if negated else "is null", e)
            elif self.skip("["):
                e = ("index", e, self.expr())
                self.take("]")
            else:
                return e

    def _primary(self):
        t = self.peek()
        if t is None:
            raise SyntaxError("unexpected end of expression")
        if self.skip("("):
            e = self.expr()
            self.take(")")
            return e
        if t.kind == "num":
            self.take()
            return ("num", t.text)
        if t.kind == "str":
            self.take()
            return ("str", _unescape(t.text))
        if t.kind == "id":
            low = t.text.lower()
            nxt = self.peek(1)
            called = nxt is not None and nxt.text == "("
            # `case when ... end` is syntax; `case(cond, val, ...)` is the
            # function-call form (reference registers BOTH: dsl_parser.rs
            # case_clause + CaseFunction at function/mod.rs:431)
            if low == "case" and not called:
                return self._case()
            if low in ("true", "false"):
                self.take()
                return ("bool", low == "true")
            if t.text in ("PI", "E", "TAU"):
                self.take()
                return ("const", t.text)
            if low == "null":
                self.take()
                return ("null",)
            if called:
                return ("call", self.take_id(), self.call_args())
            # dot member chain
            segs = [self.take_id()]
            while self.skip("."):
                segs.append(self.take_id())
            return ("col", segs)
        raise SyntaxError(f"unexpected token {t.text!r} at {t.pos}")

    def _case(self):
        self.take()  # case
        whens = []
        while self.skip_kw("when"):
            cond = self.expr()
            self.take_kw("then")
            whens.append((cond, self.expr()))
        other = self.expr() if self.skip_kw("else") else None
        self.take_kw("end")
        return ("case", whens, other)


def _unescape(s: str) -> str:
    body = s[1:-1]
    return (
        body.replace(r"\\", "\x00")
        .replace(r"\"", '"')
        .replace(r"\r", "\r")
        .replace(r"\n", "\n")
        .replace(r"\t", "\t")
        .replace("\x00", "\\")
    )


# ---------------------------------------------------------------------------
# AST → Column compiler
# ---------------------------------------------------------------------------

def _dyn_text(e: Column) -> Column:
    """Dynamic-column carrier → its scalar text: the carrier is the value's
    JSON serialization (see CompiledPipeline.run), so '$' unwraps it — bare
    numbers/bools come back as their literal text, strings unquoted.

    A dynamic value that went through a JsonPath step (dot/index access,
    compiled to get_json_object) is ALREADY unwrapped when the payload was a
    string scalar — get_json_object unquotes strings — so re-unwrapping plain
    text like ``bob`` would parse-fail to null.  The coalesce falls back to
    the raw carrier in that case, matching the reference Value model where
    ``obj.name`` is simply the string (value.rs get_string).  A carrier that
    is literally ``null`` (a JSON null payload) must NOT be resurrected as
    the 4-char string — it is Value::Null."""
    return F.coalesce(F.get_json_object(e, "$"), F.when(e != "null", e))


def _dyn_as(e: Column, t: str | None, want: str) -> Column:
    """Coerce a possibly-dynamic operand for a typed context (parse-on-use,
    mirroring the reference's runtime Value dispatch, dsl_parser.rs:45-51):
    ``want`` ∈ num | text | bool.  Non-dynamic operands pass through."""
    if t != "dynamic":
        return e
    txt = _dyn_text(e)
    if want == "num":
        return txt.cast("double")
    if want == "bool":
        return txt.cast("boolean")
    return txt


# Column operator of each arithmetic, boolean and comparison AST op
_COLUMN_OPS = {
    "+": operator.add, "-": operator.sub, "*": operator.mul, "/": operator.truediv,
    "and": operator.and_, "or": operator.or_,
    ">": operator.gt, "<": operator.lt, ">=": operator.ge,
    "<=": operator.le, "==": operator.eq, "!=": operator.ne,
}


def _dyn_dispatch(a: Column, b: Column, num_op, text_op) -> Column:
    """Runtime Value dispatch over two dynamic carriers: ``num_op`` on the
    numeric views when BOTH payloads parse as numbers, ``text_op`` on the
    scalar texts otherwise."""
    at, bt = _dyn_text(a), _dyn_text(b)
    an, bn = at.cast("double"), bt.cast("double")
    return F.when(an.isNotNull() & bn.isNotNull(), num_op(an, bn)).otherwise(text_op(at, bt))


def _sum_text(an: Column, bn: Column) -> Column:
    s = an + bn
    return F.when(s == F.floor(s), s.cast("long").cast("string")).otherwise(s.cast("string"))


def _dyn_order_key(c: Column) -> Column:
    """Runtime-typed sort key of a dynamic carrier: numbers numerically,
    then text after all numbers, as an (is-text, number, text) struct —
    the carrier text alone would rank '9' > '10'."""
    txt = _dyn_text(c)
    num = txt.cast("double")
    return F.struct(num.isNull().cast("int"), num, txt)


class ExprCompiler:
    """Compiles expression ASTs to Columns, tracking rough static types so
    piper's string-`+`-is-concat rule (math_op.rs:82) can be honored.

    Dynamic columns (declared without ``as type``, the reference's default —
    dsl_parser.rs:45-51) ride in a JSON-string carrier and are parsed on use:
    arithmetic casts the unwrapped text to double, comparisons and concat use
    the text, dot/index access becomes a JsonPath step.  The reference would
    return runtime-typed Values; the carrier keeps one Spark column type while
    preserving observable results for numeric/string/bool payloads."""

    def __init__(self, col_types: dict[str, str]):
        self.col_types = dict(col_types)

    def compile(self, ast) -> tuple[Column, str | None]:
        kind = ast[0]
        if kind == "num":
            txt = ast[1]
            if txt.lower().startswith("0x"):
                return F.lit(int(txt, 16)), "long"
            if txt.lower().startswith("0b"):
                return F.lit(int(txt, 2)), "long"
            if "." in txt:
                return F.lit(float(txt)), "double"
            v = int(txt)
            return F.lit(v), ("int" if v <= 2**31 - 1 else "long")
        if kind == "str":
            return F.lit(ast[1]), "string"
        if kind == "bool":
            return F.lit(ast[1]), "boolean"
        if kind == "null":
            return F.lit(None), None
        if kind == "const":
            import math

            return F.lit({"PI": math.pi, "E": math.e, "TAU": math.tau}[ast[1]]), "double"
        if kind == "col":
            segs = ast[1]
            base_t = self.col_types.get(segs[0])
            if base_t == "dynamic" and len(segs) > 1:
                # dot access into a dynamic value = JsonPath step; the result
                # is JSON text again (objects/arrays chain, scalars unwrap at
                # the use site), so it stays dynamic
                return F.get_json_object(F.col(segs[0]), "$." + ".".join(segs[1:])), "dynamic"
            c = F.col(segs[0])
            for s in segs[1:]:
                c = c.getItem(s)
            t = base_t if len(segs) == 1 else None
            return c, t
        if kind == "index":
            base, bt = self.compile(ast[1])
            idx_ast = ast[2]
            if bt == "dynamic":
                if idx_ast[0] == "str":
                    return F.get_json_object(base, f"$.{idx_ast[1]}"), "dynamic"
                if idx_ast[0] == "num":
                    return F.get_json_object(base, f"$[{int(idx_ast[1], 0)}]"), "dynamic"
                raise SyntaxError("dynamic index must be a literal")
            if idx_ast[0] == "str":
                return base.getItem(idx_ast[1]), None
            idx, _ = self.compile(idx_ast)
            return F.get(base, idx.cast("int")), None  # piper arrays are 0-based
        if kind == "un":
            op = ast[1]
            e, t = self.compile(ast[2])
            if op in ("-", "+"):
                x = _dyn_as(e, t, "num")
                return (-x if op == "-" else x), ("double" if t == "dynamic" else t)
            if op in ("!", "not"):
                return ~_dyn_as(e, t, "bool"), "boolean"
            if op == "~":
                return lookup_fn("bit_not")(e), t
            if op == "is null":
                return e.isNull(), "boolean"
            if op == "is not null":
                return e.isNotNull(), "boolean"
        if kind == "bin":
            op = ast[1]
            a, ta = self.compile(ast[2])
            b, tb = self.compile(ast[3])
            pyop = _COLUMN_OPS.get(op)
            if op == "+" and "string" in (ta, tb):
                return F.concat(_dyn_as(a, ta, "text").cast("string"),
                                _dyn_as(b, tb, "text").cast("string")), "string"
            if op == "+" and ta == tb == "dynamic":
                # runtime dispatch like the reference Value model
                # (math_op.rs:82): numeric add when both payloads are
                # numbers, string concat otherwise.  One Spark column =
                # one type, so the result is a string; integral sums
                # render without the trailing '.0'.
                return _dyn_dispatch(a, b, _sum_text, F.concat), "string"
            if op == "/" and ta in ("int", "long") and tb in ("int", "long"):
                # DivideOperator (math_op.rs:197 via binary_math_op) is typed:
                # Int/Int → Int, Int|Long/Long → Long, both Rust-truncated;
                # any float operand promotes to true double division.  The
                # integral branch uses SQL `div` — exact i64, never a double
                # round-trip (which rounds operands above 2^53).
                out_t = "long" if "long" in (ta, tb) else "int"
                q = F.call_function("div", a.cast("long"), b.cast("long"))
                return (q if out_t == "long" else q.cast("int")), out_t
            if op in ("+", "-", "*", "/"):
                out_t = "double" if op == "/" else _promote(ta, tb)
                return pyop(_dyn_as(a, ta, "num"), _dyn_as(b, tb, "num")), out_t
            if op in ("div", "%"):
                f = P.div if op == "div" else P.mod_long
                return f(_dyn_as(a, ta, "num"), _dyn_as(b, tb, "num")), "long"
            if op == "&":
                return lookup_fn("bit_and")(a, b), _promote(ta, tb)
            if op in ("and", "or"):
                return pyop(_dyn_as(a, ta, "bool"), _dyn_as(b, tb, "bool")), "boolean"
            if op in (">", "<", ">=", "<=", "==", "!="):
                if ta == tb == "dynamic":
                    # runtime dispatch (reference Value::partial_cmp,
                    # value.rs:301-338): numeric comparison when BOTH
                    # payloads are numbers — text compare would order '9' >
                    # '10' — text comparison otherwise.
                    return _dyn_dispatch(a, b, pyop, pyop), "boolean"
                if "dynamic" in (ta, tb):
                    # one typed side: the dynamic operand adopts its shape
                    other = tb if ta == "dynamic" else ta
                    want = "num" if other in ("int", "long", "float", "double") else "text"
                    a, b = _dyn_as(a, ta, want), _dyn_as(b, tb, want)
                return pyop(a, b), "boolean"
        if kind == "call":
            name = ast[1]
            # len/length dispatch on the STATIC type (reference len.rs: Array
            # → element count, String → char count; the registry's Column
            # builder can't see types, but the DSL tracks them)
            if name.lower() in ("len", "length") and len(ast[2]) == 1:
                c, ct = self.compile(ast[2][0])
                if ct == "array":
                    return F.array_size(c), "int"
                if ct == "dynamic":
                    # runtime dispatch on the JSON carrier: array payload →
                    # element count, anything else → length of the scalar text
                    return F.coalesce(F.json_array_length(c), F.length(_dyn_text(c))).cast("int"), "int"
                return F.length(c), "int"
            # to_json of a dynamic value is its carrier — EXCEPT that a
            # JsonPath step leaves string scalars unquoted (get_json_object
            # strips quotes), so a carrier that no longer parses as JSON must
            # be re-serialized as a quoted string (to_json.rs:16-25 serde)
            if name.lower() == "to_json" and len(ast[2]) == 1:
                c, ct = self.compile(ast[2][0])
                if ct == "dynamic":
                    return (
                        F.when(F.get_json_object(c, "$").isNotNull(), c)
                        .otherwise(lookup_fn("to_json")(c)),
                        "string",
                    )
                return lookup_fn("to_json")(c), "string"
            # Literal args: numeric/bool natives are safe everywhere (they
            # can't name a column), but a native python STRING is a
            # ColumnOrName to most Spark functions — upper("abc") would read
            # a column called abc!  So string literals compile to F.lit
            # EXCEPT at the (function, position) pairs that genuinely demand
            # a plain str: JsonPaths, regex patterns, literal delimiters and
            # translate alphabets (Spark takes str-typed parameters there,
            # or the wrapper needs the value at plan-build time).
            # (the pyspark wrappers of concat_ws/array_join/substring_index
            # forward these params raw to the JVM as java.lang.String — a
            # Column there raises NOT_ITERABLE at plan build; empirically
            # audited across the registry, tests/test_dsl.py str-literal
            # regression tests).  The strftime formats of timestamp/
            # unix_timestamp are translated to Java patterns at plan build.
            native_str = {
                "get_json_object": {1}, "get_json_array": {1},
                "regexp_extract": {1}, "regexp_replace": {1, 2},
                "split": {1}, "split_part": {1}, "translate": {1, 2},
                "concat_ws": {0}, "array_join": {1, 2},
                "substring_index": {1},
                "timestamp": {1}, "unix_timestamp": {1}, "to_unix_timestamp": {1},
            }.get(name.lower(), set())
            args = []
            for pos, x in enumerate(ast[2]):
                if x[0] == "str":
                    args.append(x[1] if pos in native_str else F.lit(x[1]))
                elif x[0] == "num":
                    txt = x[1]
                    args.append(float(txt) if "." in txt else int(txt, 0))
                elif x[0] == "bool":
                    args.append(x[1])
                else:
                    c, ct = self.compile(x)
                    # dynamic args reach registry functions as scalar text —
                    # the functions' casts take it from there
                    args.append(_dyn_text(c) if ct == "dynamic" else c)
            return lookup_fn(name)(*args), _CALL_TYPES.get(name.lower())
        if kind == "case":
            whens, other = ast[1], ast[2]
            expr = None
            for cond, val in whens:
                c, _ = self.compile(cond)
                v, _ = self.compile(val)
                expr = F.when(c, v) if expr is None else expr.when(c, v)
            if other is not None:
                o, _ = self.compile(other)
                expr = expr.otherwise(o)
            return expr, None
        raise SyntaxError(f"cannot compile AST node {ast!r}")


# static result types of calls the compiler must track: string-`+` concat,
# and the reference's timestamp() = to_timestamp via var_fn (mod.rs:366,
# datetime_functions.rs:52-79) → a DATETIME value, NOT epoch seconds, while
# unix_timestamp/to_unix_timestamp = TimestampFunction → DOUBLE epoch
# seconds (timestamp.rs get_output_type)
_CALL_TYPES = {
    "string": "string", "concat": "string", "upper": "string",
    "lower": "string", "translate": "string", "trim": "string",
    "timestamp": "datetime", "unix_timestamp": "double", "to_unix_timestamp": "double",
}


def _promote(a: str | None, b: str | None) -> str | None:
    order = {"int": 0, "long": 1, "float": 2, "double": 3}
    if a in order and b in order:
        # piper promotion: any float-ish mix → double (math_op.rs:16-51)
        m = max(order[a], order[b])
        if m >= 2 and a != b:
            return "double"
        return [k for k, v in order.items() if v == m][0]
    return None


# ---------------------------------------------------------------------------
# Pipeline-level parser + compiled object
# ---------------------------------------------------------------------------

@dataclass
class CompiledPipeline:
    name: str
    input_schema: list[tuple[str, str]]  # (name, piper type)
    stages: list = field(default_factory=list)  # (verb, payload) tuples

    def apply(self, df: DataFrame, sources: dict[str, tuple[DataFrame, str]] | None = None) -> DataFrame:
        """Run the compiled stages over an existing DataFrame.  ``sources``
        maps lookup-source name → (DataFrame, key column)."""
        return self.apply_with_types(df, sources)[0]

    def apply_with_types(
        self, df: DataFrame, sources: dict[str, tuple[DataFrame, str]] | None = None
    ) -> tuple[DataFrame, dict[str, str | None]]:
        """apply() plus the tracked static piper type per output column —
        consumers that materialize rows (the Piper facade) use it to decode
        'dynamic' columns' JSON carriers back into python values."""
        sources = sources or {}
        col_types = dict(self.input_schema)
        p = Pipeline(df)
        for verb, payload in self.stages:
            p, col_types = _apply_stage(p, col_types, verb, payload, sources)
        return p.df, col_types

    def run(self, spark: SparkSession, rows: list[dict], sources=None) -> DataFrame:
        """Reference entry-point parity: materialize a request row set
        (piper/src/piper.rs:198-240) and run the pipeline over it.

        Dynamic columns (no ``as type``) accept ANY python value; it rides in
        the JSON-string carrier and is parsed on use by the compiler."""
        return self.run_with_types(spark, rows, sources)[0]

    def run_with_types(
        self, spark: SparkSession, rows: list[dict], sources=None
    ) -> tuple[DataFrame, dict[str, str | None]]:
        """run() plus the tracked static piper type per output column (see
        apply_with_types)."""
        import json

        schema = ", ".join(f"{n} {_SPARK_TYPES[t]}" for n, t in self.input_schema)

        def enc(v, t):
            if t == "dynamic" and v is not None:
                return json.dumps(v, separators=(",", ":"))
            return v

        data = [tuple(enc(r.get(n), t) for n, t in self.input_schema) for r in rows]
        df = spark.createDataFrame(data, schema)
        return self.apply_with_types(df, sources)


def _apply_stage(p: Pipeline, col_types: dict, verb: str, payload, sources) -> tuple[Pipeline, dict]:
    ec = ExprCompiler(col_types)
    if verb == "where":
        c, t = ec.compile(payload)
        # a bare dynamic predicate unwraps to boolean (reference get_bool)
        return p.where(_dyn_as(c, t, "bool")), col_types
    if verb == "take":
        return p.take(payload), col_types
    if verb == "top":
        n, ast, asc, nulls_first = payload
        c, t = ec.compile(ast)
        if t == "dynamic":
            # runtime-typed sort key: numeric payloads order numerically,
            # everything else by its carrier text AFTER all numbers (the
            # reference Value ordering compares numbers numerically;
            # cross-type order is unspecified there — this one is stable).
            # The struct must stay SQL-NULL for null carriers, or the verb's
            # nulls first/last flag would be silently inert
            c = F.when(c.isNotNull() & _dyn_text(c).isNotNull(), _dyn_order_key(c))
        return p.top(n, c, ascending=asc, nulls_first=nulls_first), col_types
    if verb == "project":
        cols = {}
        for name, ast in payload:
            c, t = ec.compile(ast)
            cols[name] = c
            col_types[name] = t
        return p.project(**cols), col_types
    if verb == "project-rename":
        mapping = dict(payload)  # new -> old
        for new, old in mapping.items():
            col_types[new] = col_types.pop(old, None)
        return p.project_rename(**mapping), col_types
    if verb == "project-remove":
        for c in payload:
            col_types.pop(c, None)
        return p.project_remove(*payload), col_types
    if verb == "project-keep":
        col_types = {k: v for k, v in col_types.items() if k in payload}
        return p.project_keep(*payload), col_types
    if verb == "explode":
        col, cast = payload
        if col_types.get(col) == "dynamic":
            # dynamic payload: the carrier holds a JSON array — surface its
            # elements (each element re-serialized carrier-style: strings
            # unquoted, objects/arrays compact JSON), then explode.  Without
            # a cast the elements REMAIN dynamic, like the reference's
            # Value::Array of Values (explode_transformation.rs).
            n = F.json_array_length(F.col(col))
            elems = F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.call_function(
                    "get_json_object", F.col(col),
                    F.concat(F.lit("$["), i.cast("string"), F.lit("]")),
                ),
            )
            arr = F.when(n > 0, elems)  # null/empty/non-array → null → rows drop (inner explode)
            p = Pipeline(p.df.withColumn(col, arr))
            col_types[col] = cast or "dynamic"
        elif cast:
            col_types[col] = cast
        return p.explode(col, cast=_SPARK_TYPES.get(cast)), col_types
    if verb == "ignore-error":
        return p.ignore_error(), col_types
    if verb == "distinct":
        if payload:
            col_types = {k: v for k, v in col_types.items() if k in payload}
        return p.distinct(*payload), col_types
    if verb == "summarize":
        aggs_ast, keys_ast = payload
        aggs = {}
        # per-aggregate output dynamism, carried into the stage's output
        # types (a dynamic min/max returns the carrier, and downstream
        # stages — top, where, arithmetic — must keep runtime dispatch)
        agg_types: dict = {}
        for name, fn_name, arg_asts in aggs_ast:
            compiled = [ec.compile(a) for a in arg_asts]
            args = [c for c, _ in compiled]
            fl = fn_name.lower()
            if compiled and compiled[0][1] == "dynamic":
                # runtime-typed aggregation input (reference feeds Values):
                # numeric folds take the numeric view; min/max order numbers
                # numerically THEN text via min_by/max_by over the
                # _dyn_order_key, returning the carrier; everything else
                # aggregates the scalar-text carrier as-is.
                c = args[0]
                txt = _dyn_text(c)
                if fl in ("sum", "avg", "mean"):
                    args = [txt.cast("double"), *args[1:]]
                elif fl in ("min", "max", "least", "greatest"):
                    key = _dyn_order_key(c)
                    expr = F.min_by(txt, key) if fl in ("min", "least") else F.max_by(txt, key)
                    aggs[name] = expr
                    agg_types[name] = "dynamic"
                    continue
                else:
                    args = [txt, *args[1:]]
            expr = agg_fn(fn_name)(*args)
            # reference avg = sum/count through DivideOperator: an integer
            # column yields Long/Long → Rust-truncated long (sum.rs:51-92 +
            # math_op.rs:197); replicate where the static type is known,
            # using exact integral div (null-counting denominator preserved).
            if fl in ("avg", "mean") and compiled and compiled[0][1] in ("int", "long"):
                expr = F.call_function(
                    "div", F.sum(args[0]).cast("long"), F.count(F.lit(1))
                )
            aggs[name] = expr
            agg_types[name] = None
        if keys_ast:
            by = {k: F.col(k) if kast is None else ec.compile(kast)[0] for k, kast in keys_ast}
            out_types = dict(agg_types)
            out_types.update({k: col_types.get(k) for k in by})
            return p.summarize(aggs, by=by), out_types
        return p.summarize(aggs), dict(agg_types)
    if verb in ("lookup", "join"):
        from feathr_online_spark.sources.registry import CallableSource

        fields, src_name, key_ast, kind = payload
        if src_name not in sources:
            raise KeyError(f"lookup source '{src_name}' not provided")
        entry = sources[src_name]
        if isinstance(entry, CallableSource):
            src_df, src_key = entry, entry.key
        else:
            src_df, src_key = entry
        fmap = {dst: src_f for dst, src_f, _ in fields}
        col_types.update({dst: ftype for dst, _, ftype in fields})
        key_expr = ec.compile(key_ast)[0]
        if verb == "lookup":
            newp = p.lookup(src_df, on=key_expr, key=src_key, fields=fmap)
        else:
            newp = p.join(src_df, kind, on=key_expr, key=src_key, fields=fmap)
        # apply 'as type' casts from rename_with_type
        casts = {dst: F.col(dst).cast(_SPARK_TYPES[t]) for dst, _, t in fields if t}
        if casts:
            newp = Pipeline(newp.df.withColumns(casts))
        return newp, col_types
    raise SyntaxError(f"unknown verb {verb}")


def parse_pipelines(src: str) -> dict[str, CompiledPipeline]:
    """Parse a full pipeline.conf (possibly several pipelines)."""
    ps = Parser(tokenize(src))
    out: dict[str, CompiledPipeline] = {}
    while ps.peek() is not None:
        pl = _parse_pipeline(ps)
        out[pl.name] = pl
    return out


def _parse_pipeline(ps: Parser) -> CompiledPipeline:
    name = ps.take_id()
    ps.take("(")

    def column():
        col, ctype = ps.take_id(), _as_type(ps) or "dynamic"
        if ctype not in _TYPES:
            raise SyntaxError(f"unknown type {ctype}")
        return col, ctype

    schema = ps.items(column)
    ps.take(")")
    stages = []
    while ps.skip("|"):
        stages.append(_parse_stage(ps))
    ps.take(";")
    return CompiledPipeline(name, schema, stages)


def _as_type(ps: Parser) -> str | None:
    """Optional ``as <type>`` suffix → the lowercased type name."""
    return ps.take_id().lower() if ps.skip_kw("as") else None


def _assign(ps: Parser, rhs):
    """``name = rhs`` → (name, rhs())."""
    name = ps.take_id()
    ps.take("=")
    return name, rhs()


def _parse_stage(ps: Parser):
    verb = ps.take_id().lower()
    if verb == "where":
        return ("where", ps.expr())
    if verb == "take":
        return ("take", ps.take_int())
    if verb == "top":
        n = ps.take_int()
        ps.take_kw("by")
        e = ps.expr()
        asc = ps.skip_kw("asc", "desc") == "asc"
        nulls_first = ps.take_id().lower() == "first" if ps.skip_kw("nulls") else None
        return ("top", (n, e, asc, nulls_first))
    if verb == "project":
        return ("project", ps.items(lambda: _assign(ps, ps.expr)))
    if verb == "project-rename":
        return ("project-rename", ps.items(lambda: _assign(ps, ps.take_id)))
    if verb in ("project-remove", "project-keep"):
        return (verb, ps.items(ps.take_id))
    if verb in ("explode", "mv-expand"):
        return ("explode", (ps.take_id(), _as_type(ps)))
    if verb == "ignore-error":
        return ("ignore-error", None)
    if verb == "distinct":
        return ("distinct", ps.items(ps.take_id) if ps.skip_kw("by") else [])
    if verb == "summarize":
        aggs = ps.items(lambda: (*_assign(ps, ps.take_id), ps.call_args()))
        keys = []
        if ps.skip_kw("by"):
            keys = ps.items(lambda: (ps.take_id(), ps.expr() if ps.skip("=") else None))
        return ("summarize", (aggs, keys))
    if verb in ("lookup", "join"):
        kind = None
        if verb == "join":
            ps.take_kw("kind")
            ps.take("=")
            kind = ps.take_id().lower()

        def lookup_field():
            dst = ps.take_id()
            src_f = ps.take_id() if ps.skip("=") else dst
            return dst, src_f, _as_type(ps)

        fields = ps.items(lookup_field)
        ps.take_kw("from")
        src_name = ps.take_id()
        ps.take_kw("on")
        return (verb, (fields, src_name, ps.expr(), kind))
    raise SyntaxError(f"unknown transformation verb {verb!r}")
