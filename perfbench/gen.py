"""Seeded input generator and closed-form expectations.

The generator writes every input the program reads (transcript parquet
files and, for the pipeline workload, the entity dictionary) so that the
program only ever sees files. Each payload is a closed-form function of
``(did, tix)``; the same closed forms are restated in DuckDB SQL, which
gives the expected output (row counts and an order-insensitive checksum)
without going through Spark or the parser kernels.

The seed drives two things, with the format shares held fixed:

* the doc-id offset ``off``: conversations are ``did = off .. off+D-1``;
* the format rotation ``rot``: turn ``(did, tix)`` carries payload kind
  ``(did*7 + tix + rot) % 5`` (0 NTriples, 1 JSON-LD, 2 RDFa, 3 prose,
  4 malformed NTriples). With ``T`` a multiple of 5 every kind is
  exactly 20% of the turns.
"""

from __future__ import annotations

import os
import random
import shutil
import dataclasses
from dataclasses import dataclass

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
DCT = "http://purl.org/dc/terms/"

# the input is split into this many parquet files so the scan has that
# many tasks; fixed so that the same seed gives the same files anywhere
N_FILES = 8
# entities per canonical IRI in the pipeline dictionary
DICT_BLOCK = 16


# ------------------------------------------------------------ payloads


def _nt_name(did: int) -> str:
    # every 10th entity has escaped quotes and a newline in its name, so
    # its surface form never matches the dictionary
    return f'Entity \\"{did}\\"\\n' if did % 10 == 0 else f"Entity {did}"


def nt_text(did: int, tix: int) -> str:
    return (
        f"# turn {tix}\n"
        f'<urn:e:{did}> <urn:p:name> "{_nt_name(did)}" .\n'
        f"<urn:e:{did}> <urn:p:knows> <urn:e:{did + 1}> .\n"
        f'<urn:e:{did}> <urn:p:score> "{did % 100}.5"^^<{XSD}decimal> .\n'
        f'_:a <urn:p:label> "turn {tix}"@en .\n'
    )


def jsonld_text(did: int, tix: int) -> str:
    return (
        '{"@context": {"name": "urn:p:name", '
        '"knows": {"@id": "urn:p:knows", "@type": "@id"}, '
        f'"score": {{"@id": "urn:p:score", "@type": "{XSD}integer"}}, '
        '"tags": "urn:p:tag"}, '
        f'"@id": "urn:e:{did}", "@type": "urn:t:Thing", '
        f'"name": "Entity {did}", "knows": "urn:e:{did + 1}", '
        f'"score": {did % 50}, "tags": ["a{did}", "b"]}}'
    )


def rdfa_text(did: int, tix: int) -> str:
    return (
        f'<div xmlns="http://www.w3.org/1999/xhtml" about="urn:e:{did}">'
        f'<span property="{DCT}title">Turn {tix}</span>'
        f'<a rel="{DCT}relation" href="urn:e:{did + 1}">x</a>'
        "</div>"
    )


def prose_text(did: int, tix: int) -> str:
    return f"the quick brown fox jumps over turn {tix} of conversation {did}"


def malformed_text(did: int, tix: int) -> str:
    return f'<urn:e:{did}> <urn:p:name "broken turn {tix}'


# kind -> (payload function, fmt column value)
KINDS = (
    (nt_text, "ntriples"),
    (jsonld_text, "jsonld"),
    (rdfa_text, "rdfa"),
    (prose_text, "text"),
    (malformed_text, "ntriples"),
)
MALFORMED = 4


@dataclass(frozen=True)
class Corpus:
    """What one seed generates: ``docs`` conversations of ``turns`` turns
    each, starting at doc id ``off``; ``mixed`` selects the five-kind
    rotation, otherwise every turn is NTriples."""

    off: int
    rot: int
    docs: int
    turns: int
    mixed: bool

    def kind(self, did: int, tix: int) -> int:
        if not self.mixed:
            return 0
        return (did * 7 + tix + self.rot) % 5

    def turn_rows(self, lo: int, hi: int):
        """(conv_id, tix, role, text, fmt) for doc ids ``lo..hi-1``."""
        roles = ("user", "assistant", "tool")
        for did in range(lo, hi):
            conv = f"c{did}"
            for tix in range(self.turns):
                payload, fmt = KINDS[self.kind(did, tix)]
                yield conv, tix, roles[tix % 3], payload(did, tix), fmt

    @property
    def n_turns(self) -> int:
        return self.docs * self.turns

    def head(self, parts: int) -> "Corpus":
        """The first ``1/parts`` of the conversations (at least one per
        input file)."""
        return dataclasses.replace(self, docs=max(N_FILES, self.docs // parts))


def make_corpus(seed: int, docs: int, turns: int, mixed: bool) -> Corpus:
    if mixed and turns % 5:
        raise ValueError("mixed corpora need turns % 5 == 0 for fixed shares")
    rng = random.Random(seed)
    return Corpus(
        off=rng.randrange(1, 1_000_000), rot=rng.randrange(5),
        docs=docs, turns=turns, mixed=mixed,
    )


# ------------------------------------------------------------- writers


def write_transcripts(corpus: Corpus, path: str) -> None:
    """Write the corpus as ``N_FILES`` parquet files of whole
    conversations (conv_id, turn_idx, role, text, fmt)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()), ("fmt", pa.string()),
    ])
    n = N_FILES if corpus.docs >= N_FILES else 1
    for i in range(n):
        lo = corpus.off + corpus.docs * i // n
        hi = corpus.off + corpus.docs * (i + 1) // n
        cols = list(zip(*corpus.turn_rows(lo, hi)))
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def write_dictionary(corpus: Corpus, path: str) -> None:
    """Entity dictionary: surface form ``entity N`` of every entity the
    corpus names (``off .. off+D``) maps to ``urn:canon:<N // 16>``, so
    each canonical IRI has up to 16 surface forms."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    ids = range(corpus.off, corpus.off + corpus.docs + 1)
    table = pa.table({
        "canonical_iri": [f"urn:canon:{e // DICT_BLOCK}" for e in ids],
        "surface_form": [f"entity {e}" for e in ids],
        "weight": [1.0] * len(ids),
    })
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def dir_mb(path: str) -> tuple[float, int]:
    """(size in MB, number of data files) of a directory tree."""
    total, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total / 1e6, files


# --------------------------------------------------- closed-form oracle

_V = "CAST(NULL AS VARCHAR)"
_NT_NAME = (
    "CASE WHEN did%10=0 THEN 'Entity \"'||did||'\"'||chr(10) "
    "ELSE 'Entity '||did END"
)


def checksum_sql(cols: list[str]) -> str:
    """DuckDB twin of ``probes.checksum_cols``: two 32-bit slices of the
    md5 of each row's fields, summed (order-insensitive)."""
    row = "concat_ws(chr(31), " + ", ".join(
        f"coalesce(CAST({c} AS VARCHAR), '~')" for c in cols
    ) + ")"
    return (
        f"sum(('0x'||substr(md5({row}),1,8))::BIGINT) AS h1, "
        f"sum(('0x'||substr(md5({row}),9,8))::BIGINT) AS h2"
    )


STATEMENT_COLS = [
    "conv_id", "turn_idx", "subj", "pred", "obj", "obj_kind", "lang",
    "dtype", "graph",
]


def _statements_sql(corpus: Corpus) -> str:
    """Non-error statements of the corpus as a DuckDB query."""
    kind = "0" if not corpus.mixed else f"(did*7 + tix + {corpus.rot}) % 5"
    t = (
        f"WITH t0 AS (SELECT did, tix FROM range({corpus.off}, "
        f"{corpus.off + corpus.docs}) r(did), range({corpus.turns}) s(tix)), "
        f"t AS (SELECT did, tix, {kind} AS k FROM t0) "
    )
    bnode = "'_:bc'||did||'_'||tix||'_n0'"
    e, e1 = "'urn:e:'||did", "'urn:e:'||(did+1)"
    # (kind, subj, pred, obj, obj_kind, lang, dtype)
    rows = [
        (0, e, "'urn:p:name'", _NT_NAME, "'literal'", _V, _V),
        (0, e, "'urn:p:knows'", e1, "'iri'", _V, _V),
        (0, e, "'urn:p:score'", "(did%100)||'.5'", "'literal'", _V,
         f"'{XSD}decimal'"),
        (0, bnode, "'urn:p:label'", "'turn '||tix", "'literal'", "'en'", _V),
        (1, e, f"'{RDF_TYPE}'", "'urn:t:Thing'", "'iri'", _V, _V),
        (1, e, "'urn:p:name'", "'Entity '||did", "'literal'", _V, _V),
        (1, e, "'urn:p:knows'", e1, "'iri'", _V, _V),
        (1, e, "'urn:p:score'", "CAST(did%50 AS VARCHAR)", "'literal'", _V,
         f"'{XSD}integer'"),
        (1, e, "'urn:p:tag'", "'a'||did", "'literal'", _V, _V),
        (1, e, "'urn:p:tag'", "'b'", "'literal'", _V, _V),
        (2, e, f"'{DCT}title'", "'Turn '||tix", "'literal'", _V, _V),
        (2, e, f"'{DCT}relation'", e1, "'iri'", _V, _V),
    ]
    names = ("subj", "pred", "obj", "obj_kind", "lang", "dtype")
    parts = [
        "SELECT 'c'||did AS conv_id, tix AS turn_idx, "
        + ", ".join(f"{v} AS {n}" for v, n in zip(r[1:], names))
        + f", {_V} AS graph FROM t WHERE k = {r[0]}"
        for r in rows
    ]
    return t + ", st AS (" + " UNION ALL ".join(parts) + ") "


def expected_extract(corpus: Corpus) -> dict:
    """Expected triples, error rows and checksum of
    ``extract_statements`` over the corpus."""
    import duckdb

    con = duckdb.connect()
    try:
        sql = _statements_sql(corpus)
        n, h1, h2 = con.sql(
            sql + f"SELECT count(*), {checksum_sql(STATEMENT_COLS)} FROM st"
        ).fetchone()
        malformed = con.sql(
            sql + f"SELECT count(*) FROM t WHERE k = {MALFORMED}"
        ).fetchone()[0]
    finally:
        con.close()
    # one error row per malformed turn
    return {"triples": n, "error_rows": malformed, "h1": h1, "h2": h2}


def expected_pipeline(corpus: Corpus) -> dict:
    """Expected summary counts and node/edge checksums of
    ``run_pipeline.run`` over an all-NTriples corpus and the dictionary
    of :func:`write_dictionary`.

    Linking matches a mention's ``trim(lower(name))`` to a dictionary
    surface form. Each mention links to exactly one canonical IRI and no
    canonical IRI is itself a mention, so the equivalence graph is a set
    of stars and each component's representative is the least member of
    its star."""
    import duckdb

    sql = _statements_sql(corpus) + f"""
    , dict AS (
        SELECT 'urn:canon:'||(e // {DICT_BLOCK}) AS canonical_iri,
               'entity '||e AS surface_form
        FROM range({corpus.off}, {corpus.off + corpus.docs + 1}) r(e)),
    mentions AS (
        SELECT conv_id, turn_idx, subj AS mention_node,
               trim(lower(obj)) AS surface_norm
        FROM st WHERE obj_kind = 'literal' AND pred = 'urn:p:name'),
    links AS (
        SELECT DISTINCT m.conv_id, m.turn_idx, m.mention_node, d.canonical_iri
        FROM mentions m JOIN dict d ON m.surface_norm = d.surface_form),
    equiv AS (SELECT DISTINCT mention_node AS src, canonical_iri AS dst
              FROM links),
    star AS (SELECT dst, least(dst, min(src)) AS rep FROM equiv GROUP BY dst),
    comp AS (
        SELECT e.src AS node, s.rep AS component
        FROM equiv e JOIN star s USING (dst)
        UNION SELECT dst, rep FROM star),
    nodes0 AS (
        SELECT subj AS node FROM st
        UNION SELECT obj FROM st WHERE obj_kind IN ('iri', 'bnode')),
    nodes AS (
        SELECT n.node, coalesce(c.component, n.node) AS canonical
        FROM nodes0 n LEFT JOIN comp c USING (node)),
    edges AS (
        SELECT DISTINCT coalesce(cs.component, st.subj) AS src, st.pred,
               coalesce(cd.component, st.obj) AS dst
        FROM st LEFT JOIN comp cs ON cs.node = st.subj
                LEFT JOIN comp cd ON cd.node = st.obj
        WHERE st.obj_kind IN ('iri', 'bnode'))
    """
    con = duckdb.connect()
    try:
        q = lambda body: con.sql(sql + body).fetchone()  # noqa: E731
        statements = q("SELECT count(*) FROM st")[0]
        n_mentions, = q("SELECT count(*) FROM mentions")
        n_links, = q("SELECT count(*) FROM links")
        n_equiv, = q("SELECT count(*) FROM equiv")
        n_comp, = q("SELECT count(DISTINCT component) FROM comp")
        nodes, nh1, nh2 = q(
            f"SELECT count(*), {checksum_sql(['node', 'canonical'])} FROM nodes"
        )
        edges, eh1, eh2 = q(
            f"SELECT count(*), {checksum_sql(['src', 'pred', 'dst'])} FROM edges"
        )
    finally:
        con.close()
    return {
        "statements": statements, "errors": 0,
        "mentions": n_mentions, "links": n_links, "equiv_edges": n_equiv,
        "components": n_comp,
        "nodes": nodes, "nodes_h": [nh1, nh2],
        "edges": edges, "edges_h": [eh1, eh2],
    }
