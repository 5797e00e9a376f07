"""Off-the-clock correctness checks, each against DuckDB over the files the
program wrote. A check returns a list of failure messages (empty = pass)."""

from __future__ import annotations

import random

from tools.check_oracle import value_hash

#: the literal-valued metadata predicates every page gets (plus rdf:type)
META_KEYS = ("url", "lang", "fetchedAt", "tokenCount")


def connect():
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _model_sql(pages_path: str) -> str:
    """The extraction pipeline for a page sample as DuckDB SQL (modelled on
    the repository's ``kg_pages_pipeline`` oracle): metadata triples plus
    deduplicated mention triples per page."""
    from sparkrdf.extract.gazetteer import KG, PREDICATES, RDF_TYPE
    from sparkrdf.extract.link import scored_gazetteer
    from sparkrdf.extract.ner import mention_pattern_re2

    gaz = ", ".join(f"('{s}', '{ent}')" for s, ent, _c, _l, _sc in scored_gazetteer())
    p = PREDICATES
    return f"""
WITH pages AS (
  SELECT x.*, s.page_iri FROM read_parquet('{pages_path}') x JOIN sample s USING (url)),
gaz(surface, ent) AS (VALUES {gaz}),
mention AS (
  SELECT page_iri, unnest(regexp_extract_all(text, '{mention_pattern_re2()}', 1)) AS surface
  FROM pages),
linked AS (SELECT DISTINCT m.page_iri, g.ent FROM mention m JOIN gaz g USING (surface))
SELECT page_iri AS subj, '{RDF_TYPE}' AS pred, '{KG}class/WebPage' AS obj FROM pages
UNION ALL SELECT page_iri, '{p["url"]}', url FROM pages
UNION ALL SELECT page_iri, '{p["lang"]}', lang FROM pages
UNION ALL SELECT page_iri, '{p["fetchedAt"]}', strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ') FROM pages
UNION ALL SELECT page_iri, '{p["tokenCount"]}',
  CAST(len(string_split_regex(text, '\\s+')) AS VARCHAR) FROM pages
UNION ALL SELECT page_iri, '{p["mentions"]}', ent FROM linked
"""


def check_crawl(con, pages_path: str, ckpt_dir: str, graph_dir: str,
                n_pages: int, seed: int, sample_size: int = 64) -> list[str]:
    """Invariants of one committed ingest (checkpoint + written graph)."""
    from sparkrdf.extract.gazetteer import PAGE, PREDICATES, RDF_TYPE
    from sparkrdf.hashing import fingerprint64

    errors = []
    stmts = f"read_parquet('{ckpt_dir}/stages/statements/*.parquet')"
    edges = f"read_parquet('{graph_dir}/edges/*/*.parquet', hive_partitioning = true)"
    verts = f"read_parquet('{graph_dir}/vertices/*/*.parquet', hive_partitioning = true)"
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731

    n_stmts, n_edges = q(f"SELECT COUNT(*) FROM {stmts}"), q(f"SELECT COUNT(*) FROM {edges}")
    if n_edges != n_stmts:
        errors.append(f"edges {n_edges} != statements {n_stmts}")
    dangling = q(f"""
        WITH v AS (SELECT collection || '/' || _key AS id FROM {verts})
        SELECT COUNT(*) FROM {edges} e
        WHERE e._from NOT IN (SELECT id FROM v) OR e._to NOT IN (SELECT id FROM v)""")
    if dangling:
        errors.append(f"{dangling} edges with a dangling _from/_to")
    meta = [RDF_TYPE] + [PREDICATES[k] for k in META_KEYS]
    preds = ", ".join(f"'{m}'" for m in meta)
    bad_pages, pages_seen = con.execute(f"""
        SELECT COUNT(*) FILTER (WHERE n <> 5), COUNT(*) FROM (
          SELECT s, COUNT(*) AS n FROM {stmts}
          WHERE starts_with(s, '{PAGE}') AND p IN ({preds}) GROUP BY s)""").fetchone()
    if bad_pages or pages_seen != n_pages:
        errors.append(f"metadata: {bad_pages} pages without 5 triples, "
                      f"{pages_seen}/{n_pages} pages present")

    # value hash of a seeded page sample against the DuckDB pipeline model
    urls = [r[0] for r in con.execute(
        f"SELECT url FROM read_parquet('{pages_path}') ORDER BY url").fetchall()]
    picked = sorted(random.Random(seed).sample(urls, min(sample_size, len(urls))))
    sample = [(u, PAGE + str(fingerprint64(u))) for u in picked]
    con.execute("CREATE OR REPLACE TEMP TABLE sample (url VARCHAR, page_iri VARCHAR)")
    con.executemany("INSERT INTO sample VALUES (?, ?)", sample)
    want = con.execute(_model_sql(pages_path)).fetchall()
    got = con.execute(f"""
        SELECT s AS subj, p AS pred, o AS obj FROM {stmts}
        WHERE s IN (SELECT page_iri FROM sample)""").fetchall()
    cols = ["subj", "pred", "obj"]
    if value_hash(cols, got) != value_hash(cols, want):
        errors.append(f"page sample: {len(got)} rows differ from the "
                      f"{len(want)}-row DuckDB model")
    return errors
