"""The ``kg_query`` mix: each query once as a ``sparkrdf`` call and once as
DuckDB SQL over the same statements parquet (the correctness model).

The knowledge graph is what :func:`build_kg` writes: the statements
``extract_triples`` mints from the seed's pages, plus each page mention
remodelled as an n-ary blank node (page --hasMention--> _:m --entity-->
entity) so DESCRIBE has blank-node closures to follow.
"""

from __future__ import annotations

from sparkrdf.extract.gazetteer import CLS, PROP, RDF_TYPE

RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
MENTIONS = PROP + "mentions"
HAS_MENTION = PROP + "hasMention"
ENTITY = PROP + "entity"
RELATED = PROP + "relatedTo"
MENTIONED_IN = PROP + "mentionedIn"
MENTION_CLS = CLS + "Mention"

ONTOLOGY = [
    (CLS + "Person", RDFS + "subClassOf", CLS + "Agent"),
    (CLS + "Organization", RDFS + "subClassOf", CLS + "Agent"),
    (CLS + "Agent", RDFS + "subClassOf", CLS + "Entity"),
    (CLS + "Place", RDFS + "subClassOf", CLS + "Entity"),
    (CLS + "Product", RDFS + "subClassOf", CLS + "Entity"),
    (CLS + "Entity", RDFS + "subClassOf", CLS + "Thing"),
    (CLS + "WebPage", RDFS + "subClassOf", CLS + "Document"),
    (MENTIONS, RDFS + "subPropertyOf", PROP + "references"),
    (PROP + "references", RDFS + "domain", CLS + "Document"),
    (PROP + "references", RDFS + "range", CLS + "Entity"),
]

OWL_AXIOMS = [
    (RELATED, RDF_TYPE, OWL + "SymmetricProperty"),
    (RELATED, RDF_TYPE, OWL + "TransitiveProperty"),
    (MENTIONS, OWL + "inverseOf", MENTIONED_IN),
]

SPARQL_SELECT = f"""
PREFIX kgp: <{PROP}>
SELECT ?d ?n ?l WHERE {{
  ?d kgp:tokenCount ?n ; kgp:lang ?l .
  FILTER(?n > 70 && (?l = "en" || regex(?l, "^d")))
}} ORDER BY DESC(?n) ?d LIMIT 25
"""

SPARQL_AGG = f"""
PREFIX kgp: <{PROP}>
SELECT ?e (COUNT(?d) AS ?n) (MIN(?d) AS ?first)
WHERE {{ ?d kgp:mentions ?e . }}
GROUP BY ?e
"""

SPARQL_PATH = f"""
PREFIX kgp: <{PROP}>
SELECT ?src ?dst WHERE {{ ?src ^kgp:mentions/kgp:mentions/a ?dst }}
"""


def build_kg(spark, pages_path: str, out_path: str) -> None:
    """pages parquet -> KG statements parquet (set-up, not timed)."""
    from pyspark.sql import functions as F

    from sparkrdf.extract.pipeline import extract_triples

    stmts = extract_triples(spark, spark.read.parquet(pages_path))
    men = stmts.filter(F.col("p") == MENTIONS)
    bnode = F.concat(F.lit("m"), F.sha1(F.concat_ws("|", "s", "o")))
    null = F.lit(None).cast("string")

    def row(s_kind, s, p, o_kind, o):
        return men.select(
            F.lit(s_kind).alias("s_kind"), s.alias("s"), F.lit(p).alias("p"),
            F.lit(o_kind).alias("o_kind"), o.alias("o"), null.alias("o_lang"),
            null.alias("o_datatype"), null.alias("sub_graph"),
        )

    nary = (
        row("URIRef", F.col("s"), HAS_MENTION, "BNode", bnode)
        .unionByName(row("BNode", bnode, ENTITY, "URIRef", F.col("o")))
        .unionByName(row("BNode", bnode, RDF_TYPE, "URIRef", F.lit(MENTION_CLS)))
    )
    stmts.unionByName(nary).coalesce(1).write.mode("overwrite").parquet(out_path)
    spark.catalog.clearCache()


def _iri_triples(stmts):
    from pyspark.sql import functions as F

    return stmts.filter(F.col("o_kind") != "Literal").select("s", "p", "o")


def _comention(stmts):
    """Distinct entity pairs (u < v) mentioned on one page."""
    from pyspark.sql import functions as F

    m = stmts.filter(F.col("p") == MENTIONS).select("s", "o")
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.o") < F.col("b.o")))
        .select(F.col("a.o").alias("u"), F.col("b.o").alias("v"))
        .dropDuplicates()
    )


def q_sparql_select(spark, stmts):
    from sparkrdf.sparql import sparql_query

    return sparql_query(stmts, SPARQL_SELECT, numeric=("n",))


def q_sparql_agg(spark, stmts):
    from sparkrdf.sparql import sparql_query

    return sparql_query(stmts, SPARQL_AGG)


def q_sparql_path(spark, stmts):
    from sparkrdf.sparql import sparql_query

    return sparql_query(stmts, SPARQL_PATH)


def describe_seeds(stmts):
    from pyspark.sql import functions as F

    return stmts.filter((F.col("p") == PROP + "lang") & (F.col("o") == "de")).select(
        F.col("s").alias("n")
    )


def q_describe(spark, stmts):
    from sparkrdf.query import describe_cbd

    return describe_cbd(stmts, describe_seeds(stmts)).select("s", "p", "o_kind", "o")


def q_rdfs(spark, stmts):
    from sparkrdf.reason import rdfs_materialize

    onto = spark.createDataFrame(ONTOLOGY, "s string, p string, o string")
    return rdfs_materialize(_iri_triples(stmts), onto)


def q_owl(spark, stmts):
    from pyspark.sql import functions as F

    from sparkrdf.reason import owl_materialize

    co = _comention(stmts).select(
        F.col("u").alias("s"), F.lit(RELATED).alias("p"), F.col("v").alias("o")
    )
    onto = spark.createDataFrame(OWL_AXIOMS, "s string, p string, o string")
    return owl_materialize(_iri_triples(stmts).unionByName(co), onto)


def q_pagerank(spark, stmts):
    """Rank pages and entities over the page-mentions-entity edges. (The
    entity co-mention graph is complete at this size, so every damping
    factor would give the same uniform ranks there.)"""
    from pyspark.sql import functions as F

    from sparkrdf.graphops import pagerank

    edges = stmts.filter(F.col("p") == MENTIONS).select(
        F.col("s").alias("u"), F.col("o").alias("v"))
    return pagerank(edges, src="u", dst="v")


#: name -> (sparkrdf module the query calls into, builder)
QUERIES = {
    "sparql_select": ("sparql", q_sparql_select),
    "sparql_agg": ("sparql", q_sparql_agg),
    "sparql_path": ("sparql", q_sparql_path),
    "describe": ("query", q_describe),
    "rdfs": ("reason", q_rdfs),
    "owl": ("reason", q_owl),
    "pagerank": ("graphops", q_pagerank),
}


# -- DuckDB models -------------------------------------------------------------

def _values(rows) -> str:
    return ", ".join("(" + ", ".join(f"'{v}'" for v in r) + ")" for r in rows)


def oracle_sql(kg_glob: str) -> dict[str, str]:
    base = f"stmts AS (SELECT * FROM read_parquet('{kg_glob}'))"
    men = f"men AS (SELECT s, o FROM stmts WHERE p = '{MENTIONS}')"
    co = ("co AS (SELECT DISTINCT a.o AS u, b.o AS v FROM men a JOIN men b "
          "ON a.s = b.s AND a.o < b.o)")
    iri = "trip AS (SELECT DISTINCT s, p, o FROM stmts WHERE o_kind <> 'Literal')"
    sql = {}
    sql["sparql_select"] = f"""
WITH {base},
tc AS (SELECT s, o FROM stmts WHERE p = '{PROP}tokenCount'),
lg AS (SELECT s, o FROM stmts WHERE p = '{PROP}lang')
SELECT tc.s AS d, tc.o AS n, lg.o AS l FROM tc JOIN lg USING (s)
WHERE CAST(tc.o AS DOUBLE) > 70 AND (lg.o = 'en' OR regexp_matches(lg.o, '^d'))
ORDER BY CAST(tc.o AS DOUBLE) DESC, d LIMIT 25
"""
    sql["sparql_agg"] = f"""
WITH {base}, {men}
SELECT o AS e, COUNT(s) AS n, MIN(s) AS first FROM men GROUP BY o
"""
    sql["sparql_path"] = f"""
WITH {base}, {men},
ty AS (SELECT s, o FROM stmts WHERE p = '{RDF_TYPE}')
SELECT a.o AS src, ty.o AS dst
FROM men a JOIN men b ON a.s = b.s JOIN ty ON ty.s = b.o
"""
    sql["describe"] = f"""
WITH {base},
seeds AS (SELECT s AS n FROM stmts WHERE p = '{PROP}lang' AND o = 'de'),
bn AS (SELECT DISTINCT o AS n FROM stmts
       WHERE o_kind = 'BNode' AND s IN (SELECT n FROM seeds)),
vis AS (SELECT n FROM seeds UNION SELECT n FROM bn)
SELECT s, p, o_kind, o FROM stmts WHERE s IN (SELECT n FROM vis)
"""
    sql["rdfs"] = f"""
WITH RECURSIVE {base}, {iri},
onto(s, p, o) AS (VALUES {_values(ONTOLOGY)}),
spc(a, b) AS (
  SELECT s, o FROM onto WHERE p = '{RDFS}subPropertyOf'
  UNION SELECT c.a, onto.o FROM spc c
  JOIN onto ON onto.s = c.b AND onto.p = '{RDFS}subPropertyOf'),
scc(a, b) AS (
  SELECT s, o FROM onto WHERE p = '{RDFS}subClassOf'
  UNION SELECT c.a, onto.o FROM scc c
  JOIN onto ON onto.s = c.b AND onto.p = '{RDFS}subClassOf'),
t1 AS (SELECT s, p, o FROM trip
  UNION SELECT t.s, c.b, t.o FROM trip t JOIN spc c ON c.a = t.p),
typed AS (
  SELECT t.s AS s, '{RDF_TYPE}' AS p, d.o AS o
  FROM t1 t JOIN onto d ON d.s = t.p AND d.p = '{RDFS}domain'
  UNION SELECT t.o, '{RDF_TYPE}', r.o
  FROM t1 t JOIN onto r ON r.s = t.p AND r.p = '{RDFS}range'),
t2 AS (SELECT * FROM t1 UNION SELECT * FROM typed),
inh AS (SELECT t.s AS s, '{RDF_TYPE}' AS p, c.b AS o
  FROM t2 t JOIN scc c ON c.a = t.o WHERE t.p = '{RDF_TYPE}')
SELECT DISTINCT s, p, o FROM (SELECT * FROM t2 UNION ALL SELECT * FROM inh)
"""
    sql["owl"] = f"""
WITH RECURSIVE {base}, {men}, {co}, {iri},
rel0 AS (SELECT u AS s, v AS o FROM co UNION SELECT v, u FROM co),
relc(s, o) AS (
  SELECT s, o FROM rel0
  UNION SELECT relc.s, rel0.o FROM relc JOIN rel0 ON rel0.s = relc.o)
SELECT DISTINCT s, p, o FROM (
  SELECT s, p, o FROM trip
  UNION ALL SELECT o, '{MENTIONED_IN}', s FROM men
  UNION ALL SELECT u, '{RELATED}', v FROM co
  UNION ALL SELECT s, '{RELATED}', o FROM relc)
"""
    pr = f"""
WITH {base}, {men},
de AS (SELECT s, o AS t FROM men UNION ALL SELECT o AS s, s AS t FROM men),
deg AS (SELECT s, COUNT(*)::DOUBLE AS dg FROM de GROUP BY s),
nv AS (SELECT COUNT(*)::DOUBLE AS c FROM deg),
r0 AS (SELECT s AS n, 1.0 / (SELECT c FROM nv) AS pr FROM deg)"""
    for i in range(10):
        pr += f""",
r{i + 1} AS (
  SELECT de.t AS n,
    (1 - 0.85) / (SELECT c FROM nv) + 0.85 * SUM(r{i}.pr / deg.dg) AS pr
  FROM de JOIN deg USING (s) JOIN r{i} ON r{i}.n = de.s
  GROUP BY de.t)"""
    sql["pagerank"] = pr + "\nSELECT n, ROUND(pr, 6) AS pr FROM r10"
    return sql


def gate_inputs(con, kg_glob: str) -> dict:
    """Row counts the threshold-gated calls compare against their
    2,000,000-row ``small_graph_threshold`` default."""
    src = f"read_parquet('{kg_glob}')"
    bn_edges = con.execute(
        f"SELECT COUNT(*) FROM {src} WHERE o_kind = 'BNode'").fetchone()[0]
    seeds = con.execute(
        f"SELECT COUNT(*) FROM {src} WHERE p = '{PROP}lang' AND o = 'de'"
    ).fetchone()[0]
    mentions = con.execute(
        f"SELECT COUNT(*) FROM {src} WHERE p = '{MENTIONS}'").fetchone()[0]
    threshold = 2_000_000

    def branch(*rows):
        return "driver" if all(r <= threshold for r in rows) else "distributed"

    return {
        "describe_cbd": {"bnode_edges": bn_edges, "seeds": seeds,
                         "threshold": threshold, "branch": branch(bn_edges, seeds)},
        "pagerank": {"directed_edges": 2 * mentions, "threshold": threshold,
                     "branch": branch(2 * mentions)},
    }
