"""Term-level semantics as Catalyst column expressions (no Python UDFs).

Reproduces the reference's per-term transforms declaratively:
- ``rdf_id_to_adb_label`` (reference: arango_rdf/main.py:1709-1725):
  local name = last segment of the id split on ``/ # :``, falling back to the
  whole id when the last segment is empty.
- ``__get_literal_val`` (main.py:3897-3914): datatype-directed JSON value —
  date/time/duration-family literals keep their lexical form, xsd:decimal
  becomes a float, integer family becomes int, boolean becomes bool,
  everything else (or unparseable) stays the lexical string.

All functions return Column expressions so the whole plan stays inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
OWL_NS = "http://www.w3.org/2002/07/owl#"
ADB_NS = "http://www.arangodb.com/"

OWL_SYMMETRIC = OWL_NS + "SymmetricProperty"
OWL_TRANSITIVE = OWL_NS + "TransitiveProperty"
OWL_INVERSE_OF = OWL_NS + "inverseOf"

RDF_TYPE = RDF_NS + "type"
RDF_STATEMENT = RDF_NS + "Statement"
RDF_SUBJECT = RDF_NS + "subject"
RDF_PREDICATE = RDF_NS + "predicate"
RDF_OBJECT = RDF_NS + "object"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
RDFS_SUBCLASSOF = RDFS_NS + "subClassOf"
RDFS_DOMAIN = RDFS_NS + "domain"
RDFS_RANGE = RDFS_NS + "range"
RDFS_CLASS = RDFS_NS + "Class"
RDFS_RESOURCE = RDFS_NS + "Resource"
RDFS_LITERAL = RDFS_NS + "Literal"
RDF_PROPERTY = RDF_NS + "Property"
ADB_KEY_URI = ADB_NS + "key"
ADB_COL_URI = ADB_NS + "collection"

# rdf:_1, rdf:_2, ..., and rdf:li membership properties
# (reference: precompiled regexes at main.py:127-130)
CONTAINER_MEMBER_RE = r"^http://www\.w3\.org/1999/02/22-rdf-syntax-ns#_[0-9]+$"
CONTAINER_LI = RDF_NS + "li"

_INT_DATATYPES = {
    XSD + t
    for t in (
        "integer",
        "int",
        "long",
        "short",
        "byte",
        "nonNegativeInteger",
        "nonPositiveInteger",
        "negativeInteger",
        "positiveInteger",
        "unsignedLong",
        "unsignedInt",
        "unsignedShort",
        "unsignedByte",
    )
}
_FLOAT_DATATYPES = {XSD + "decimal", XSD + "double", XSD + "float"}
# kept as lexical string (rdflib parses these into date/time/Duration objects,
# which the reference renders back as the lexical form — main.py:3908-3909;
# dateTime is a `date` subclass so it is also kept lexical)
_LEXICAL_DATATYPES = {
    XSD + t
    for t in (
        "date",
        "time",
        "dateTime",
        "duration",
        "dayTimeDuration",
        "yearMonthDuration",
        "gYear",
        "gMonth",
        "gDay",
        "gYearMonth",
        "gMonthDay",
    )
}


def adb_label(id_col: Column) -> Column:
    """IRI local name (reference main.py:1709-1725): last `/ # :` segment or whole id."""
    seg = F.regexp_extract(id_col, r"([^/#:]*)$", 1)
    return F.when(seg == "", id_col).otherwise(seg)


def literal_value_str(lex_col: Column, datatype_col: Column) -> Column:
    """Canonical string rendering of __get_literal_val (main.py:3897-3914).

    int family -> canonical integer string; decimal/double/float -> Spark
    double rendering; boolean -> true/false; date/time/duration/dateTime and
    anything unparseable -> the lexical form unchanged.
    """
    as_long = lex_col.cast("long")
    as_double = lex_col.cast("double")
    return (
        F.when(
            datatype_col.isin(*sorted(_INT_DATATYPES)),
            F.coalesce(as_long.cast("string"), lex_col),
        )
        .when(
            datatype_col.isin(*sorted(_FLOAT_DATATYPES)),
            F.coalesce(as_double.cast("string"), lex_col),
        )
        .when(
            datatype_col == XSD + "boolean",
            F.when(F.lower(lex_col).isin("true", "1"), F.lit("true")).otherwise(F.lit("false")),
        )
        .otherwise(lex_col)
    )


def literal_value_json(lex_col: Column, datatype_col: Column) -> Column:
    """JSON fragment for a literal value (used when building PGT property JSON).

    Numeric/boolean values are unquoted JSON scalars; strings are JSON-escaped
    via to_json on a struct (then stripped), keeping everything JVM-side.
    """
    # (?s): Jackson leaves U+0085/U+2028/U+2029 unescaped (>= 0x20) and Java
    # regex '.' treats them as line terminators, so without DOTALL the anchored
    # match silently yields '' for such literals (invalid properties JSON).
    quoted = F.regexp_extract(F.to_json(F.struct(lex_col.alias("v"))), r'(?s)^\{"v":(.*)\}$', 1)
    as_long = lex_col.cast("long")
    as_double = lex_col.cast("double")
    return (
        F.when(
            datatype_col.isin(*sorted(_INT_DATATYPES)),
            F.coalesce(as_long.cast("string"), quoted),
        )
        .when(
            datatype_col.isin(*sorted(_FLOAT_DATATYPES)),
            F.coalesce(as_double.cast("string"), quoted),
        )
        .when(
            datatype_col == XSD + "boolean",
            F.when(F.lower(lex_col).isin("true", "1"), F.lit("true")).otherwise(F.lit("false")),
        )
        .otherwise(quoted)
    )


# ---------------------------------------------------------------------------
# Skolemization (rdflib Graph.skolemize / de_skolemize parity — RDF 1.1
# §3.5 "Replacing Blank Nodes with IRIs"; the reference's rdflib graphs
# offer exactly this pair, and the stable-IRI form is what lets blank
# nodes survive system boundaries like exports, MERGE sinks and diffs)
# ---------------------------------------------------------------------------

GENID_PATH = "/.well-known/genid/"


def skolemize(stmts, authority: str = "https://sparkrdf.example.org"):
    """Replace every blank node with a Skolem IRI
    ``<authority>/.well-known/genid/<label>`` (RDF 1.1 §3.5) — a pure
    codegen projection, zero shuffle; :func:`deskolemize` inverts it
    exactly because bnode labels are deterministic per parse."""
    base = authority.rstrip("/") + GENID_PATH
    s_b = F.col("s_kind") == "BNode"
    o_b = F.col("o_kind") == "BNode"
    return stmts.withColumns({
        "s_kind": F.when(s_b, F.lit("URIRef")).otherwise(F.col("s_kind")),
        "s": F.when(s_b, F.concat(F.lit(base), F.col("s"))).otherwise(F.col("s")),
        "o_kind": F.when(o_b, F.lit("URIRef")).otherwise(F.col("o_kind")),
        "o": F.when(o_b, F.concat(F.lit(base), F.col("o"))).otherwise(F.col("o")),
    })


def deskolemize(stmts, authority: str = "https://sparkrdf.example.org"):
    """Inverse of :func:`skolemize`: Skolem IRIs under the authority's
    ``/.well-known/genid/`` path become blank nodes again (rdflib
    ``de_skolemize``); foreign IRIs pass through untouched."""
    base = authority.rstrip("/") + GENID_PATH
    n = len(base) + 1
    s_sk = (F.col("s_kind") == "URIRef") & F.col("s").startswith(base)
    o_sk = (F.col("o_kind") == "URIRef") & F.col("o").startswith(base)
    return stmts.withColumns({
        "s_kind": F.when(s_sk, F.lit("BNode")).otherwise(F.col("s_kind")),
        "s": F.when(s_sk, F.col("s").substr(F.lit(n), F.lit(2**31 - 1)))
             .otherwise(F.col("s")),
        "o_kind": F.when(o_sk, F.lit("BNode")).otherwise(F.col("o_kind")),
        "o": F.when(o_sk, F.col("o").substr(F.lit(n), F.lit(2**31 - 1)))
             .otherwise(F.col("o")),
    })
