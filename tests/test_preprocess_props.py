"""Property tests for the dialect clause preprocessor and translator.

The two round-3 advisor findings (WITH TOTALS swallowing a nested GROUP BY,
multi-assignment SET corruption) were both regex-rewrite bugs.  These tests
pin the invariants that class of bug violates:

- plain ANSI SQL with none of the CH trigger keywords passes through
  _preprocess_ch_clauses byte-identical;
- the preprocessor is idempotent on a corpus of representative CH
  statements (a second pass must not rewrite its own output);
- string literals, quoted names and comments are opaque to every pass of
  the statement pipeline and to translate_sql, even when they contain
  trigger keywords, function-call spellings, escaped quotes or parens.

The passes work on lexed (masked) text; _rewrite lexes, runs one pass
and unmasks, the way the engine's query path does.
"""

from __future__ import annotations

import pytest

from tensorbase_spark.engine import (
    PartitionSpec,
    TensorBaseEngine,
    _lex,
    _preprocess_ch_clauses,
    _unmask,
    translate_sql,
)


def _rewrite(fn, q: str) -> str:
    masked, lits = _lex(q)
    return _unmask(fn(masked), lits)


class _Stub(TensorBaseEngine):
    """The engine's text passes without a SparkSession: no catalog
    tables, views, buffers, projections or dictionaries, and ``t`` the
    one partitioned table (``rem(a, 10)``)."""

    def __init__(self, params=None):
        self._params = params or {}
        self._param_views, self._buffer_pending = {}, {}
        self._projections, self._dicts = {}, {}

    def _qualify(self, name):
        return name if "." in name else f"default.{name}"

    def _table_props(self, name):
        raise LookupError(name)

    def _spec_for(self, name):
        return PartitionSpec("a", "rem", 10) if name.split(".")[-1] == "t" else None


PLAIN = [
    "select a, b from t where a > 1 group by a, b having count(*) > 2",
    "select * from t order by a desc limit 10",
    "with c as (select a from t) select * from c join u on c.a = u.a",
    "select count(*) from t where x between 1 and 2 and y in (1, 2, 3)",
    "select a from t union all select b from u",
    "insert into t select * from u where k % 2 = 0",
    "select case when a > 0 then 'p' else 'n' end from t",
]


@pytest.mark.parametrize("q", PLAIN)
def test_preprocess_identity_on_plain_sql(q):
    assert _rewrite(_preprocess_ch_clauses, q) == q


CH_CORPUS = [
    "select a, sum(v) from t group by a with totals",
    "select t, sum(n) from (select a as t, count(*) as n from x group by a) z "
    "group by t with totals",
    "select * from t final where a = 1",
    "select * from t as f final",
    "select a from t global join u on t.k = u.k",
    "select a from t all inner join u on t.k = u.k",
    "select a from t semi left join u on t.k = u.k",
    "select a from t prewhere a > 1 where b < 2 group by a",
    "select * except b from t",
    "select * except (b, c) from t",
    "select * replace(a * 2 as a) from t",
    "select * except (c) replace(b + 1 as b) from t",
    "select k from t order by k limit 5, 10",
    "select k, v from t order by v limit 2 by k",
    "select a from t settings max_threads = 4 format JSONEachRow",
    "select a from t settings max_threads = 4",
]


@pytest.mark.parametrize("q", CH_CORPUS)
def test_preprocess_idempotent(q):
    once = _rewrite(_preprocess_ch_clauses, q)
    assert _rewrite(_preprocess_ch_clauses, once) == once


# (statement, text that must reach Spark verbatim)
LITERAL_QUERIES = [
    ("select 'group by x with totals' as s from t", "group by x with totals"),
    ("select 'from t final' as s", "from t final"),
    ("select '* except b' as s", "* except b"),
    ("select 'limit 1, 2' as s", "limit 1, 2"),
    ("select 'toYear(d)' as s", "toYear(d)"),
    ('select "a FINAL" from t', "a FINAL"),
    ("select 'a\\'b from t final' from t", "'a\\'b from t final'"),
    ("select 'O\\'Brien toYear(d)' as s", "'O\\'Brien toYear(d)'"),
    ('select "x\\" from t final" as s', '"x\\" from t final"'),
    ("select `a [1]` from t", "`a [1]`"),
    ("select `toYear(d) final` from t", "`toYear(d) final`"),
    ("select 1 /* it's */, 'toYear(d)' as s from t", "'toYear(d)'"),
    ("select 1 as a -- it's\n, 'limit 1, 2' as s", "'limit 1, 2'"),
    ("select 1 from t where a = 3 -- it's\n and b = 'toYear(d)'", "'toYear(d)'"),
]


@pytest.mark.parametrize(
    "q, lit", [pytest.param(q, lit, id=q) for q, lit in LITERAL_QUERIES]
)
def test_string_literals_are_opaque(q, lit):
    # the literal text must survive the statement pipeline and the
    # translator verbatim
    assert lit in _Stub()._translate_query(q)
    assert lit in translate_sql(q)


def test_translate_leaves_unknown_functions_untouched():
    q = "select my_udf(a, 1) from t"
    assert translate_sql(q) == q


def test_set_multi_assignment_split_depth0():
    """Depth-0 comma split: a comma inside a quoted value must not split
    the assignment."""
    from tensorbase_spark.engine import _split_depth0

    parts = _split_depth0("a = 1, b = 'x,y', c = f(1, 2)")
    assert parts == ["a = 1", "b = 'x,y'", "c = f(1, 2)"]


# --- round-5 rewrites: scalar WITH, LIMIT WITH TIES, balanced parens ------

def test_scalar_with_leaves_ctes_untouched():
    from tensorbase_spark.engine import _rewrite_scalar_with

    ctes = [
        "with c as (select a from t) select * from c",
        "with c as (select a from t), d as (select b from u) "
        "select * from c join d on c.a = d.b",
        "with recursive s(n) as (select 1 union all select n+1 from s "
        "where n < 5) select * from s",
        # mixed CH + CTE: conservative bail, untouched
        "with 5 as n, c as (select a from t) select * from c",
        "select a from t",  # no WITH at all
    ]
    for q in ctes:
        assert _rewrite(_rewrite_scalar_with, q) == q, q


def test_scalar_with_inlines_and_respects_strings():
    from tensorbase_spark.engine import _rewrite_scalar_with

    out = _rewrite(_rewrite_scalar_with, "with 5 as n select n, 'n' as lit from t")
    assert "(5)" in out and "'n'" in out and "with" not in out.lower()
    # chained aliases expand through each other
    out2 = _rewrite(_rewrite_scalar_with, "with 2 as a, a + 1 as b select b from t")
    assert "((2) + 1)" in out2


def test_with_ties_only_rewrites_the_clause():
    from tensorbase_spark.engine import _rewrite_limit_with_ties

    plain = [
        "select a from t order by a limit 5",
        "select a from t limit 5",
        "select 'limit 5 with ties' as s from t",
    ]
    for q in plain:
        assert _rewrite(_rewrite_limit_with_ties, q) == q, q
    out = _rewrite(
        _rewrite_limit_with_ties, "select a from t order by a limit 5 with ties"
    )
    assert "rank() over" in out and "__rk <= 5" in out


def test_strip_outer_parens_balanced_only():
    from tensorbase_spark.engine import _strip_outer_parens

    assert _strip_outer_parens("(a, b)") == "a, b"
    assert _strip_outer_parens("cityHash64(id)") == "cityHash64(id)"
    assert _strip_outer_parens("(a, f(b))") == "a, f(b)"
    assert _strip_outer_parens("((x))") == "x"
    assert _strip_outer_parens("(a) + (b)") == "(a) + (b)"


def test_param_binder_skips_literals_and_plain_text():
    e = _Stub({"x": "7"})
    assert e._translate_query("select 1") == "select 1"
    out = e._translate_query("select {x:Int64} as v, '{x:Int64}' as lit")
    assert "cast('7' as bigint)" in out.lower() and "'{x:Int64}'" in out
    with pytest.raises(ValueError, match="param_y"):
        e._translate_query("select {y:Int64}")


# --- fuzz: injected literals, comments and quoted names change nothing else --

_NOISE = [
    "from t final", "system.one", "file(x)", "toYear(d)", "group by x with totals",
    "limit 1, 2", "array join a", "settings a = 1", "prewhere b", "{p:Int64}",
    "[1]", "* except b", "where a = 1 or", "(", ")", "((", "--", "/*", "*/", ",",
]


def _registry_corpus() -> list[str]:
    """Every SELECT/WITH string constant of the query modules, plus CH_CORPUS."""
    import ast
    import pathlib
    import re

    import tensorbase_spark.queries as queries

    out = []
    for path in sorted(pathlib.Path(queries.__file__).parent.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and re.match(r"(?is)\s*(select|with)\b", node.value)
            ):
                out.append(node.value.strip())
    return out + CH_CORPUS


def _gaps(q: str) -> list[int]:
    """Whitespace offsets of ``q`` outside its literals, names and comments
    and outside function-call arguments — the clause positions the rewrite
    passes scan (a call's template may legitimately read a literal)."""
    from tensorbase_spark.engine import _LEX_RE

    opaque = set()
    for m in _LEX_RE.finditer(q):
        opaque.update(range(*m.span()))
    gaps, calls = [], []
    for k, ch in enumerate(q):
        if k in opaque:
            continue
        if ch == "(":
            j = k - 1
            while j >= 0 and q[j].isspace():
                j -= 1
            word = j >= 0 and (q[j].isalnum() or q[j] == "_")
            sub = q[k + 1 : k + 8].lstrip().lower().startswith(("select", "with"))
            calls.append(word and not sub)
        elif ch == ")":
            if calls:
                calls.pop()
        elif ch.isspace() and not any(calls):
            gaps.append(k)
    return gaps


def _injections(rng):
    """(span, its reference) pairs: the reference is what the span must
    rewrite like — a plain literal or name for opaque spans, the lexed
    whitespace for comments."""
    noise = " ".join(rng.sample(_NOISE, 3))
    lit = noise.replace("'", "")
    yield "'" + lit + rng.choice(["''", "\\'"]) + "'", "'__fz__'"
    yield "`" + noise.replace("`", "") + "`", "`__fz__`"
    yield "-- it's " + noise.replace("\n", "") + "\n", " \n"
    yield "/* it's " + noise.replace("*/", "") + " */", " "


def _outcome(q: str) -> str:
    try:
        return _Stub()._translate_query(q)
    except Exception as e:  # the same error either way is the same outcome
        return f"<{type(e).__name__}>"


def test_injected_spans_are_opaque_to_every_pass():
    """Seeded injections into the registry's own statements: a literal
    full of trigger words, quotes and parens, a backticked name, and both
    comment forms.  The statement pipeline must rewrite each exactly like
    the same statement with a plain stand-in there, and carry the span
    through verbatim."""
    import random

    bad = []
    for i, q in enumerate(_registry_corpus()):
        rng = random.Random(i)
        gaps = _gaps(q)
        if not gaps or "__fz__" in q:
            continue
        for span, ref in _injections(rng):
            k = rng.choice(gaps)
            got = _outcome(f"{q[:k]} {span} {q[k:]}")
            want = _outcome(f"{q[:k]} {ref} {q[k:]}")
            if "__fz__" in ref:
                want = want.replace(ref, span)
            if got != want:
                bad.append((q[:60], span))
    assert not bad, bad[:5]


def test_optimizer_hint_survives():
    q = "select /*+ MERGE(l) */ o.ok as ok, count(*) as n from o join l on o.ok = l.ok"
    assert "/*+ MERGE(l) */" in _Stub()._translate_query(q)
    assert "/*+ MERGE(l) */" in translate_sql(q)
