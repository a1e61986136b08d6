"""The query registry's oracles compose the shared DuckDB fragment
builders, and session tuning happens once, at registration.

A JVM-free AST scan of plans/queries.py fails on any copy of what the
shared builders own: a ``_tune`` call inside a registered body (the
registered function tunes before the body runs), a hand-rolled SRP
``dot_expr``, an ``import re`` MATERIALIZED-hint loop inside a function
(``_materialized`` is the one), the recursive-closure SQL outside
``_closure_sql``, or a hand-written reference-side bucket cap
(``ROW_NUMBER() OVER (PARTITION BY <keys> ORDER BY <id>) ... WHERE
rn <= {cap}``) outside ``_capped_cross_candidates_sql``, or the
training oracles' hashed-token bucket CTE outside ``_hashed_fx_sql``
or their naive-Bayes log-weight chain outside ``_nb_model_sql``. A
planted source shows the scan going red; a Spark test shows that a
registered ``fn`` tunes a foreign session."""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES_PY = os.path.join(
    REPO, "us_immigration_data_lake_spark", "plans", "queries.py"
)

# the shared builders: the only places their own fragments may appear
SHARED = {
    "_closure_sql", "_srp_bucket_sql", "_materialized",
    "_capped_cross_candidates_sql", "_hashed_fx_sql", "_nb_model_sql",
}
CLOSURE_STEP = "FROM reach r JOIN"
# the cap keeps each bucket's smallest ids: a plain-id ordered
# row_number filtered against a formatted bound (hash-ordered
# per-source caps and literal top-k filters do not match)
CAP_COPY = re.compile(
    r"ROW_NUMBER\(\)\s+OVER\s+\(PARTITION BY [\w, ]+?\s+ORDER BY \w+\)"
    r"\s+AS rn\s+FROM [^()]*\)\s*WHERE rn <= \{\}"
)
# a token's md5 bucket (the hashed-feature CTE) and the Laplace-smoothed
# NB log-weight (the model chain), each formatted against a bucket count
HASHED_FX_COPY = re.compile(r"substr\(md5\(t\), 1, 15\)\)::BIGINT % \{\}")
NB_CHAIN_COPY = re.compile(r"ln\(\(c_kb \+ 1\.0\) / \(tot_k \+ \{\}\)\)")


def _is_register(dec: ast.expr) -> bool:
    return (
        isinstance(dec, ast.Call)
        and isinstance(dec.func, ast.Name)
        and dec.func.id == "_register"
    )


def _sql_text(node: ast.AST) -> str | None:
    """A string literal's text; an f-string's with ``{}`` for each
    formatted value."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{}"
            for v in node.values
        )
    return None


def _owner_map(tree: ast.Module) -> dict[ast.AST, str]:
    """Each node → the name of its top-level function (or "")."""
    owner: dict[ast.AST, str] = {}
    for top in tree.body:
        name = top.name if isinstance(top, ast.FunctionDef) else ""
        for node in ast.walk(top):
            owner[node] = name
    return owner


def scan(source: str) -> list[str]:
    """Violations of the shared-fragment rules in registry ``source``."""
    tree = ast.parse(source)
    owner = _owner_map(tree)
    out = []
    for top in tree.body:
        if isinstance(top, ast.FunctionDef) and any(
            _is_register(d) for d in top.decorator_list
        ):
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "_tune"
                ):
                    out.append(f"{top.name}:{node.lineno}: _tune in body")
    for node in ast.walk(tree):
        where = owner.get(node, "")
        if isinstance(node, ast.FunctionDef) and node.name == "dot_expr":
            out.append(f"{where}:{node.lineno}: def dot_expr")
        elif (
            isinstance(node, ast.Import)
            and where
            and any(a.name == "re" for a in node.names)
        ):
            out.append(f"{where}:{node.lineno}: import re")
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and CLOSURE_STEP in node.value
            and where not in SHARED
        ):
            out.append(f"{where}:{node.lineno}: closure SQL")
        elif (
            isinstance(node, ast.JoinedStr)
            and where not in SHARED
            and CAP_COPY.search(_sql_text(node))
        ):
            out.append(f"{where}:{node.lineno}: bucket cap SQL")
        elif isinstance(node, ast.JoinedStr) and where not in SHARED:
            if HASHED_FX_COPY.search(_sql_text(node)):
                out.append(f"{where}:{node.lineno}: hashed-token SQL")
            if NB_CHAIN_COPY.search(_sql_text(node)):
                out.append(f"{where}:{node.lineno}: naive-Bayes SQL")
    return out


def test_registry_composes_shared_fragments():
    with open(QUERIES_PY, encoding="utf-8") as f:
        assert scan(f.read()) == []


_PLANTED = '''
@_register("q_planted", oracle=None)
def q_planted(spark, sf_dir):
    _tune(spark)
    return None


def _q_planted_oracle_sql():
    import re

    def dot_expr(i):
        return ""

    sql = """WITH RECURSIVE reach AS (
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)"""
    return re.sub("x", "y", sql)


def _q_planted_cap_oracle_sql(cap):
    return f"""capped AS (
      SELECT bucket, vec_id FROM (
        SELECT bucket, vec_id,
               ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
        FROM b WHERE vec_id % 2 = 0
      ) WHERE rn <= {cap}
    )"""


def _q_planted_nb_oracle_sql(b):
    return f"""fx AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT % {b} AS b
      FROM tok
    ), w AS (
      SELECT k, b, ROUND(ln((c_kb + 1.0) / (tot_k + {b})) * 1e6) AS w
      FROM kb JOIN ktot USING (k)
    )"""


def _hashed_fx_sql(b):
    return f"SELECT ('0x' || substr(md5(t), 1, 15))::BIGINT % {b} AS b"


def _nb_model_sql(b):
    return f"SELECT ln((c_kb + 1.0) / (tot_k + {b})) AS w"


def _closure_sql(*pairs):
    return "SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src"


def _capped_cross_candidates_sql(cap):
    return f"""capped AS (SELECT * FROM (
        SELECT k, id, ROW_NUMBER() OVER (PARTITION BY k ORDER BY id) AS rn
        FROM ref) WHERE rn <= {cap})"""
'''


def test_scan_goes_red_on_planted_copies():
    found = scan(_PLANTED)
    assert [v.split(": ", 1)[1] for v in found] == [
        "_tune in body", "import re", "def dot_expr", "closure SQL",
        "bucket cap SQL", "hashed-token SQL", "naive-Bayes SQL",
    ], found
    # the shared builders' own fragments are allowed
    assert not any(
        v.startswith(("_closure_sql:", "_capped_cross_candidates_sql:",
                      "_hashed_fx_sql:", "_nb_model_sql:"))
        for v in found
    )


def test_registered_fn_tunes_a_foreign_session(spark, sf_dir):
    from us_immigration_data_lake_spark.plans.queries import QUERIES

    for name in ("q01_pricing_summary", "q197_edit_distance_join"):
        foreign = spark.newSession()
        foreign.conf.set("spark.sql.session.timeZone", "America/New_York")
        foreign.conf.set("spark.sql.shuffle.partitions", "200")
        QUERIES[name].fn(foreign, sf_dir)
        assert foreign.conf.get("spark.sql.session.timeZone") == "UTC"
        assert foreign.conf.get("spark.sql.shuffle.partitions") == "32"
