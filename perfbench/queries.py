"""The ``query_mix`` workload's SPARQL queries and their DuckDB twins.

Each entry is (name, table, SPARQL text, DuckDB SQL, kind). The SQL
restates the engine's semantics independently: a basic graph pattern
binds each distinct solution once (duplicate edge rows do not inflate
counts), UNION is a bag union of per-branch solution sets, and
CONSTRUCT / DESCRIBE return RDF graphs, i.e. sets of triples. ``kind``
picks how answers compare: ``bag`` (multiset of rows) or ``set``.

``{t}`` in the SQL is replaced by a DuckDB view over the queried
table; ``{anchor}`` in both texts by a symbol chosen from the data.
Every ORDER BY ... LIMIT query breaks ties on a unique key, so its
answer is fully determined.
"""

from __future__ import annotations

_EDGE = "(SELECT DISTINCT subj, pred, obj FROM {t} WHERE pred = '%s')"
REFS = _EDGE % "REFERENCES"
DEFS = _EDGE % "DEFINES"

MIX = [
    (
        "group_order_limit",
        "edges",
        "SELECT ?s (COUNT(?t) AS ?n) WHERE { ?s REFERENCES ?t } "
        "GROUP BY ?s ORDER BY DESC(?n) ?s LIMIT 10",
        f"SELECT subj AS s, count(*) AS n FROM {REFS} GROUP BY subj "
        "ORDER BY n DESC, s LIMIT 10",
        "bag",
    ),
    (
        "two_hop_join",
        "edges",
        "SELECT (COUNT(*) AS ?n) WHERE { ?f DEFINES ?s . ?s REFERENCES ?t }",
        f"SELECT count(*) AS n FROM {DEFS} d JOIN {REFS} r ON d.obj = r.subj",
        "bag",
    ),
    (
        "anchored_path",
        "edges",
        "SELECT DISTINCT ?x WHERE { {anchor} REFERENCES+ ?x }",
        "WITH RECURSIVE reach(x) AS ("
        f"  SELECT obj FROM {REFS} WHERE subj = '{{anchor}}'"
        f"  UNION SELECT r.obj FROM reach JOIN {REFS} r ON r.subj = reach.x"
        ") SELECT x FROM reach",
        "bag",
    ),
    (
        "optional",
        "edges",
        "SELECT (COUNT(*) AS ?all) (COUNT(?g) AS ?resolved) WHERE "
        "{ ?s REFERENCES ?t . OPTIONAL { ?g DEFINES ?t } }",
        f"SELECT count(*) AS all_, count(d.subj) AS resolved FROM {REFS} r "
        f"LEFT JOIN {DEFS} d ON d.obj = r.obj",
        "bag",
    ),
    (
        "filter_not_exists",
        "edges",
        "SELECT (COUNT(*) AS ?n) WHERE { ?f DEFINES ?s . "
        "FILTER NOT EXISTS { ?x REFERENCES ?s } }",
        f"SELECT count(*) AS n FROM {DEFS} d WHERE NOT EXISTS "
        f"(SELECT 1 FROM {REFS} r WHERE r.obj = d.obj)",
        "bag",
    ),
    (
        "filter_exists",
        "edges",
        "SELECT (COUNT(DISTINCT ?s) AS ?n) WHERE { ?s REFERENCES ?t . "
        "FILTER EXISTS { ?f DEFINES ?s } }",
        f"SELECT count(DISTINCT r.subj) AS n FROM {REFS} r WHERE EXISTS "
        f"(SELECT 1 FROM {DEFS} d WHERE d.obj = r.subj)",
        "bag",
    ),
    (
        "union_degree",
        "edges",
        "SELECT ?x (COUNT(*) AS ?deg) WHERE { { ?x DEFINES ?y } UNION "
        "{ ?x REFERENCES ?y } } GROUP BY ?x ORDER BY DESC(?deg) ?x LIMIT 10",
        f"SELECT x, count(*) AS deg FROM (SELECT subj AS x FROM {DEFS} "
        f"UNION ALL SELECT subj AS x FROM {REFS}) GROUP BY x "
        "ORDER BY deg DESC, x LIMIT 10",
        "bag",
    ),
    (
        "ask",
        "edges",
        "ASK { ?s REFERENCES ?t . ?t REFERENCES {anchor} }",
        f"SELECT count(*) > 0 AS ask FROM {REFS} a JOIN {REFS} b "
        "ON a.obj = b.subj WHERE b.obj = '{anchor}'",
        "bag",
    ),
    (
        "describe",
        "edges",
        "DESCRIBE {anchor}",
        "SELECT DISTINCT subj, pred, obj FROM {t} "
        "WHERE subj = '{anchor}' OR obj = '{anchor}'",
        "set",
    ),
    (
        "construct",
        "edges",
        "CONSTRUCT { ?t DEFINED_IN ?f } WHERE { ?f DEFINES ?t . "
        "?t REFERENCES ?u }",
        f"SELECT DISTINCT d.obj AS subj, 'DEFINED_IN' AS pred, d.subj AS obj "
        f"FROM {DEFS} d JOIN {REFS} r ON r.subj = d.obj",
        "set",
    ),
    (
        "canonical_fan_in",
        "edges_canonical",
        "SELECT ?t (COUNT(DISTINCT ?s) AS ?n) WHERE { ?s REFERENCES ?t } "
        "GROUP BY ?t ORDER BY DESC(?n) ?t LIMIT 10",
        f"SELECT obj AS t, count(DISTINCT subj) AS n FROM {REFS} "
        "GROUP BY obj ORDER BY n DESC, t LIMIT 10",
        "bag",
    ),
]


def render(text: str, anchor: str, view: str | None = None) -> str:
    out = text.replace("{anchor}", anchor)
    return out.replace("{t}", view) if view is not None else out
