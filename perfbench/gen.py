"""Seeded benchmark input, derived from graft's test tables.

`base/` holds a copy of the repository's deterministic sf0.01 test data,
the input graft's correctness checks run on. A ×N input is built from it
the way tools/make_scaled.py builds its scaled copies: the dimension
tables are copied byte for byte, and `orders`, `lineitem`, `events`,
`documents` and `embeddings` are repeated once per replica with keys
offset by `OFF * replica`.

On top of that, each replica of the two corpus tables gets a perturbation
drawn from (seed, replica), so the same seed gives the same bytes and a
different seed gives different bytes with the same row counts:

- `documents`: every word is renamed through a permutation of the corpus
  vocabulary. Renaming keeps each exact and near-duplicate pair, the word
  counts and the `lang` column of the test data, while each replica gets
  text of its own, so ×N is not N copies of one corpus (exact copies would
  turn every document into an N-way duplicate).
- `embeddings`: Gaussian noise (NOISE per component) is added to every
  vector, which is then scaled back to unit length.

The values of the fact tables are the test data's own.
"""
import os
import shutil
from pathlib import Path

import duckdb

BASE = Path(__file__).resolve().parent / "base"
OFF = 1_000_000_000  # per-replica key offset, as in tools/make_scaled.py
NOISE = 0.01

COPIED = ["region", "nation", "customer", "supplier", "part"]
SCALED = {
    "orders": ("SELECT o_orderkey + {o} AS o_orderkey, o_custkey, o_orderstatus, "
               "o_totalprice, o_orderdate, o_orderpriority FROM base"),
    "lineitem": ("SELECT l_orderkey + {o} AS l_orderkey, l_partkey, l_suppkey, "
                 "l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, "
                 "l_returnflag, l_linestatus, l_shipdate FROM base"),
    "events": ("SELECT event_id + {o} AS event_id, ts, user_id + {o} AS user_id, "
               "event_type, value, props FROM base"),
    # word k of the sorted vocabulary becomes word k in (seed, replica) hash order
    "documents": """
        WITH v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM base),
        p AS (SELECT a.w AS src, b.w AS dst
              FROM (SELECT w, row_number() OVER (ORDER BY w) AS k FROM v) a
              JOIN (SELECT w, row_number() OVER (ORDER BY hash({s}, {r}, w), w) AS k FROM v) b
              USING (k)),
        x AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                     generate_subscripts(string_split(text, ' '), 1) AS i FROM base),
        t AS (SELECT doc_id, string_agg(p.dst, ' ' ORDER BY i) AS text
              FROM x JOIN p ON x.w = p.src GROUP BY doc_id)
        SELECT doc_id + {o} AS doc_id, t.text, lang, source, length(t.text)::BIGINT AS n_chars
        FROM base JOIN t USING (doc_id) ORDER BY doc_id""",
    "embeddings": """
        WITH n AS (SELECT vec_id, label, list_transform(range(len(embedding)),
                     d -> embedding[d + 1] + {noise} * gauss({s}, {r}, vec_id * 4096 + d)) AS e
                   FROM base)
        SELECT vec_id + {o} AS vec_id,
               list_transform(e, x -> (x / sqrt(list_dot_product(e, e)))::FLOAT) AS embedding, label
        FROM n ORDER BY vec_id""",
}
TABLES = COPIED + list(SCALED)

MACROS = """
CREATE OR REPLACE MACRO u(s, r, i, k) AS
  ((hash(s, r, i, k) >> 11)::DOUBLE / 9007199254740992.0);
CREATE OR REPLACE MACRO gauss(s, r, i) AS
  sqrt(-2 * ln(1 - u(s, r, i, 1))) * cos(2 * pi() * u(s, r, i, 2));
"""


def generate(out_dir, seed, replicas):
    """Write every table to `out_dir` and return facts about the input."""
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(MACROS)
    for t in COPIED:
        shutil.copyfile(BASE / f"{t}.parquet", out_dir / f"{t}.parquet")
    for t, sel in SCALED.items():
        con.execute(f"CREATE OR REPLACE VIEW base AS SELECT * FROM '{BASE}/{t}.parquet'")
        union = "\nUNION ALL\n".join(
            f"SELECT * FROM ({sel.format(o=OFF * r, s=int(seed), r=r, noise=NOISE)})"
            for r in range(replicas))
        con.execute(f"COPY ({union}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)")
    rows = {t: con.execute(f"SELECT count(*) FROM '{out_dir}/{t}.parquet'").fetchone()[0]
            for t in TABLES}
    docs = f"'{out_dir}/documents.parquet'"
    n_docs, distinct_text = con.execute(
        f"SELECT count(*), count(DISTINCT text) FROM {docs}").fetchone()
    # a near duplicate is another document's text plus one more word
    near = con.execute(
        f"SELECT count(DISTINCT a.doc_id) FROM {docs} a JOIN {docs} b "
        f"ON regexp_replace(a.text, ' [^ ]+$', '') = b.text").fetchone()[0]
    n_emb, distinct_emb = con.execute(
        f"SELECT count(*), count(DISTINCT embedding) FROM '{out_dir}/embeddings.parquet'").fetchone()
    con.close()
    return {
        "rows": rows,
        "bytes": sum(os.path.getsize(out_dir / f"{t}.parquet") for t in TABLES),
        "documents_exact_dup_share": 1 - distinct_text / n_docs,
        "documents_near_dup_share": near / n_docs,
        "embeddings_exact_dup_share": 1 - distinct_emb / n_emb,
    }
