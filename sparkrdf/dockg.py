"""Document-table KG extraction — the oracle-checkable twin of the pages
pipeline.

The driver's correctness gate (DuckDB oracle) can only see the pre-registered
testdata views, so this module runs the SAME extraction semantics as
sparkrdf.extract over the ``documents`` table with a vocabulary gazetteer:
    (doc://id, kg:mentions, entity)   for gazetteer terms present as words
    (doc://id, rdf:type, kgc:Document)
    (doc://id, kg:lang, lang literal)
    (doc://id, kg:tokenCount, n^^xsd:integer)
    (entity, rdf:type, class)
Document subjects carry ``adb:key "d{doc_id}"`` overrides so every vertex and
edge endpoint the RPT/PGT transforms emit is reproducible in ANSI SQL (the
fixed gazetteer constants are baked into the oracle strings at generation
time; see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkrdf import terms as T
from sparkrdf.textops import token_count
from sparkrdf.ttl import STATEMENT_COLUMNS

KG = "http://kg.example.org/"
DOC_PREFIX = "doc://"
CLS_DOCUMENT = KG + "class/Document"
P_MENTIONS = KG + "prop/mentions"
P_LANG = KG + "prop/lang"
P_TOKENS = KG + "prop/tokenCount"
XSD_INT = T.XSD + "integer"

# vocabulary gazetteer: term -> class local name
DOC_GAZETTEER: list[tuple[str, str]] = [
    ("spark", "Tech"),
    ("query", "Tech"),
    ("join", "Operator"),
    ("hash", "Operator"),
    ("filter", "Operator"),
    ("sort", "Operator"),
    ("merge", "Operator"),
    ("scan", "Operator"),
    ("window", "Operator"),
    ("table", "Structure"),
]


P_REFERENCES = KG + "prop/references"
P_RELATED = KG + "prop/relatedTo"
CLS_ENTITY = KG + "class/Entity"
CLS_THING = KG + "class/Thing"

# deterministic schema for the doc-KG, used by the reasoning/validation
# queries: a class tree over the gazetteer classes, a property chain over
# kg:mentions, and domain/range declared on the INTERMEDIATE property (so
# rdfs2/rdfs3 only fire through the sub-property closure — the interacting-
# rules case).
_RDFS = "http://www.w3.org/2000/01/rdf-schema#"
DOC_ONTOLOGY: list[tuple[str, str, str]] = [
    (KG + "class/Operator", _RDFS + "subClassOf", KG + "class/Tech"),
    (KG + "class/Tech", _RDFS + "subClassOf", CLS_THING),
    (KG + "class/Structure", _RDFS + "subClassOf", CLS_THING),
    (CLS_DOCUMENT, _RDFS + "subClassOf", CLS_THING),
    (CLS_ENTITY, _RDFS + "subClassOf", CLS_THING),
    (P_MENTIONS, _RDFS + "subPropertyOf", P_REFERENCES),
    (P_REFERENCES, _RDFS + "subPropertyOf", P_RELATED),
    (P_REFERENCES, _RDFS + "domain", CLS_DOCUMENT),
    (P_REFERENCES, _RDFS + "range", CLS_ENTITY),
]

P_MENTIONED_IN = KG + "prop/mentionedIn"
P_HAS_MENTION = KG + "prop/hasMention"
P_ENT = KG + "prop/entity"
P_SURFACE = KG + "prop/surface"

# OWL-lite property axioms over the doc-KG (sparkrdf/reason.py
# owl_materialize): the co-mention relation is symmetric AND transitive
# (its closure = the co-mention connected components as a relation), and
# kg:mentions has a declared inverse.
DOC_OWL: list[tuple[str, str, str]] = [
    (P_RELATED, T.RDF_TYPE, T.OWL_SYMMETRIC),
    (P_RELATED, T.RDF_TYPE, T.OWL_TRANSITIVE),
    (P_MENTIONS, T.OWL_INVERSE_OF, P_MENTIONED_IN),
]

# SHACL-lite property shapes over the doc-KG (shape_id, target_class, path,
# min_count, max_count; NULL max = unbounded)
DOC_SHAPES: list[tuple[str, str, str, int, int | None]] = [
    ("doc-mentions", CLS_DOCUMENT, P_MENTIONS, 1, 3),
    ("doc-lang", CLS_DOCUMENT, P_LANG, 1, 1),
    ("op-mention", KG + "class/Operator", P_MENTIONS, 1, None),
]


def entity_iri(term: str) -> str:
    return f"{KG}entity/{term}"


def class_iri(cls: str) -> str:
    return f"{KG}class/{cls}"


def doc_triples(spark, docs: DataFrame, with_adb_keys: bool = False) -> DataFrame:
    """documents → statements DataFrame (see module docstring).

    Shape: the gazetteer is 10 fixed literals, so the per-document rows
    (mentions + type + lang + tokenCount) are built as ONE projection +
    explode over a single scan — the earlier union of four per-doc branches
    re-scanned (and re-shuffled, via the parallelism spread) the documents
    source four times, and every downstream consumer that references the
    statements table k times paid 5k scans. The entity-type rows are the
    one genuinely aggregating branch (distinct mentioned entities across
    docs): a second scan feeding a ≤|gazetteer|-row distinct, with the
    class lookup as a map literal instead of a broadcast join. Row multiset
    is identical to the branch-union formulation by construction.
    """
    subj = F.concat(F.lit(DOC_PREFIX), F.col("doc_id").cast("string"))
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))

    def stmt(s, p, o_kind, o, dt=None):
        return [
            F.lit("URIRef").alias("s_kind"),
            s.alias("s"),
            (p if not isinstance(p, str) else F.lit(p)).alias("p"),
            F.lit(o_kind).alias("o_kind"),
            o.alias("o"),
            F.lit(None).cast("string").alias("o_lang"),
            (F.lit(dt) if dt else F.lit(None)).cast("string").alias("o_datatype"),
            F.lit(None).cast("string").alias("sub_graph"),
        ]

    def _pstruct(p, o_kind, o, dt=None):
        return F.struct(
            (p if not isinstance(p, str) else F.lit(p)).alias("p"),
            F.lit(o_kind).alias("o_kind"),
            o.alias("o"),
            (F.lit(dt) if dt else F.lit(None)).cast("string").alias("dt"),
        )

    # one statements array per document: gazetteer mentions (NULL-compacted)
    # + the three metadata rows, exploded in a single pass
    mention_arr = F.filter(
        F.array(
            *[
                F.when(
                    padded.contains(f" {term} "),
                    _pstruct(P_MENTIONS, "URIRef", F.lit(entity_iri(term))),
                )
                for term, _ in DOC_GAZETTEER
            ]
        ),
        lambda x: x.isNotNull(),
    )
    per_doc = F.concat(
        mention_arr,
        F.array(
            _pstruct(T.RDF_TYPE, "URIRef", F.lit(CLS_DOCUMENT)),
            _pstruct(P_LANG, "Literal", F.col("lang")),
            _pstruct(
                P_TOKENS, "Literal",
                token_count(F.col("text")).cast("string"), XSD_INT,
            ),
        ),
    )
    doc_rows = docs.select(subj.alias("s"), F.explode(per_doc).alias("m")).select(
        F.lit("URIRef").alias("s_kind"),
        F.col("s"),
        F.col("m.p").alias("p"),
        F.col("m.o_kind").alias("o_kind"),
        F.col("m.o").alias("o"),
        F.lit(None).cast("string").alias("o_lang"),
        F.col("m.dt").alias("o_datatype"),
        F.lit(None).cast("string").alias("sub_graph"),
    )

    ent_cls = F.create_map(
        *[
            lit
            for term, cls in DOC_GAZETTEER
            for lit in (F.lit(entity_iri(term)), F.lit(class_iri(cls)))
        ]
    )
    ent_types = (
        docs.select(
            F.explode(
                F.filter(
                    F.array(
                        *[
                            F.when(
                                padded.contains(f" {term} "),
                                F.lit(entity_iri(term)),
                            )
                            for term, _ in DOC_GAZETTEER
                        ]
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("ent")
        )
        .dropDuplicates()
        .select(*stmt(F.col("ent"), T.RDF_TYPE, "URIRef", ent_cls[F.col("ent")]))
    )

    out = doc_rows.unionByName(ent_types)

    if with_adb_keys:
        keys = docs.select(
            *stmt(
                F.concat(F.lit(DOC_PREFIX), F.col("doc_id").cast("string")),
                T.ADB_KEY_URI,
                "Literal",
                F.concat(F.lit("d"), F.col("doc_id").cast("string")),
            )
        )
        out = out.unionByName(keys)
    return out.select(*STATEMENT_COLUMNS)
