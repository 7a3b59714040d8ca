"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (workload, seed): DuckDB builds it from
`hash(row, seed, salt)` with one thread and a fixed row order, so the same
seed always yields byte-identical parquet files and a different seed yields
different ones. The engine only ever sees these files.
"""
import hashlib
import json
import os
import shutil

import duckdb

SIZES = {
    # frame_queries: a small star schema plus an events table, and the
    # micro-batch file pairs of its stream (rows per file)
    "frame_queries": {"customer": 1500, "orders": 7500, "lineitem": 30000,
                      "part": 1000, "events": 25000, "batches": 2,
                      "purchases_per_batch": 400, "clicks_per_batch": 400},
    # corpus_pipeline: documents, their embeddings, an eval set, a target set
    "corpus_pipeline": {"documents": 3000, "embeddings": 1000, "bench": 60,
                        "target": 300},
}

VOCAB = ("the of and to in that is with for was on as be by at this have from "
         "river stone garden window market village winter summer morning evening "
         "letter story music paper bridge harbor forest mountain valley meadow "
         "teacher farmer painter sailor doctor student neighbor traveler "
         "walked carried opened painted watched followed gathered remembered "
         "quiet bright narrow gentle heavy golden silver ancient distant careful "
         "slowly always often never later finally together outside beyond "
         "table chair lamp basket kettle blanket candle ladder wagon lantern "
         "apple bread cheese honey salt pepper butter onion carrot barley").split()


def _h(*parts):
    return "hash(" + ", ".join(str(p) for p in parts) + ")"


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE 65536)")


def _frame_queries(con, out, s, n):
    C, O, L, P, E = (n[k] for k in ("customer", "orders", "lineitem", "part", "events"))
    _copy(con, f"""
        SELECT i AS c_custkey, ({_h('i', s, 1)} % 25)::INT AS c_nationkey,
          ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][({_h('i', s, 2)} % 5)::INT + 1] AS c_mktsegment,
          ((({_h('i', s, 3)} % 1100000)::BIGINT - 100000) / 100)::DECIMAL(12,2) AS c_acctbal,
          'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name
        FROM range(1, {C + 1}) t(i) ORDER BY i""", f"{out}/customer.parquet")
    _copy(con, f"""
        SELECT i AS o_orderkey,
          (k - CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS o_custkey,
          ['O','F','P'][({_h('i', s, 5)} % 3)::INT + 1] AS o_orderstatus,
          (({_h('i', s, 6)} % 50000000)::BIGINT / 100)::DECIMAL(12,2) AS o_totalprice,
          DATE '1995-01-01' + ({_h('i', s, 7)} % 1500)::INT AS o_orderdate,
          ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][({_h('i', s, 8)} % 5)::INT + 1] AS o_orderpriority
        FROM (SELECT i, 1 + ({_h('i', s, 4)} % {C})::BIGINT AS k FROM range(1, {O + 1}) t(i))
        ORDER BY i""", f"{out}/orders.parquet")
    _copy(con, f"""
        SELECT (i // 4 + 1)::BIGINT AS l_orderkey, (i % 4 + 1)::INT AS l_linenumber,
          (1 + {_h('i', s, 9)} % {P})::BIGINT AS l_partkey,
          (1 + {_h('i', s, 10)} % 50)::INT AS l_quantity,
          (({_h('i', s, 11)} % 10000000)::BIGINT / 100)::DECIMAL(12,2) AS l_extendedprice,
          (({_h('i', s, 12)} % 11)::BIGINT / 100)::DECIMAL(4,2) AS l_discount,
          ['A','N','R'][({_h('i', s, 13)} % 3)::INT + 1] AS l_returnflag,
          DATE '1995-01-01' + ({_h('i', s, 14)} % 1600)::INT AS l_shipdate,
          ['quick','slow','final','pending','regular','express'][({_h('i', s, 15)} % 6)::INT + 1]
            || ' ' || ['deposits','packages','requests','accounts'][({_h('i', s, 16)} % 4)::INT + 1] AS l_comment
        FROM range(0, {L}) t(i) ORDER BY i""", f"{out}/lineitem.parquet")
    _copy(con, f"""
        SELECT i AS p_partkey,
          'Brand#' || (1 + {_h('i', s, 17)} % 5) || (1 + {_h('i', s, 18)} % 5) AS p_brand,
          ['STANDARD','SMALL','MEDIUM','LARGE','ECONOMY','PROMO'][({_h('i', s, 19)} % 6)::INT + 1]
            || ' ' || ['TIN','NICKEL','BRASS','STEEL','COPPER'][({_h('i', s, 20)} % 5)::INT + 1] AS p_type,
          (1 + {_h('i', s, 21)} % 50)::INT AS p_size
        FROM range(1, {P + 1}) t(i) ORDER BY i""", f"{out}/part.parquet")
    _copy(con, _events_sql(s, E, 500), f"{out}/events.parquet")
    _stream_batches(con, out, s, n)


def _events_sql(s, rows, users):
    """Events with unique, increasing times over `users` users."""
    return f"""
        SELECT i AS event_id,
          (1 + {_h('i', s, 30)} % {users})::BIGINT AS user_id,
          TIMESTAMP '2024-01-01 00:00:00' + to_seconds((i * 13)::BIGINT) AS ts,
          ['view','click','buy'][({_h('i', s, 31)} % 3)::INT + 1] AS kind,
          CASE WHEN {_h('i', s, 32)} % 10 = 0 THEN NULL
               ELSE ({_h('i', s, 33)} % 1000)::DOUBLE END AS value,
          ({_h('i', s, 34)} % 10000)::BIGINT AS amount,
          (1 + {_h('i', s, 35)} % 512)::INT AS ntok
        FROM range(0, {rows}) t(i) ORDER BY i"""


def _corpus_pipeline(con, out, s, n):
    N = n["documents"]
    # doc classes by construction (labels.parquet, read only by the
    # checks): good prose, short (too few lines: C4 drops it), lorem
    # (boilerplate page) and curly (code page) (C4 drops both), symbol (too
    # many '#': Gopher drops it), near (an earlier good doc plus one word)
    # and exact (verbatim copy of an earlier good doc)
    con.execute(f"""
        CREATE TEMP TABLE base AS
        SELECT i AS doc_id,
          CASE WHEN i < 100 THEN 'good'
               ELSE ['good','good','good','good','good','good','good','good','good','good',
                     'good','good','short','lorem','curly','near','near','exact','symbol','good']
                    [({_h('i', s, 50)} % 20)::INT + 1] END AS label,
          (i % 100)::BIGINT AS src
        FROM range(0, {N}) t(i)""")
    # 6-9 lines of 12-15 words per document; every line opens with "the"
    # and ends with "with that." so each page passes the stopword rule
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    con.execute(f"""
        CREATE TEMP TABLE lines AS
        SELECT d AS doc_id, l,
          'the ' || string_agg({vocab}[({_h('d', 'l', 'w', s)} % {len(VOCAB)})::INT + 1],
                               ' ' ORDER BY w) || ' with that.' AS line
        FROM range(0, {N}) t1(d), range(0, 9) t2(l), range(0, 12) t3(w)
        WHERE l < 6 + d % 4 AND w < 9 + {_h('d', 'l', s, 7)} % 4
        GROUP BY d, l""")
    con.execute("""
        CREATE TEMP TABLE prose AS
        SELECT doc_id, list(line ORDER BY l) AS ls FROM lines GROUP BY doc_id""")
    con.execute(f"""
        CREATE TEMP TABLE docs AS
        SELECT b.doc_id, b.label, CASE b.label
          WHEN 'good' THEN array_to_string(b.ls, chr(10))
          WHEN 'short' THEN array_to_string(b.ls[1:2], chr(10))
          WHEN 'lorem' THEN array_to_string(b.ls, chr(10)) || chr(10) || 'lorem ipsum dolor sit amet consectetur adipiscing elit.'
          WHEN 'curly' THEN array_to_string(b.ls, chr(10)) || chr(10) || 'function render() {{ return the window; }}'
          WHEN 'symbol' THEN array_to_string(b.ls, chr(10)) || chr(10) || 'the {" ".join(["#"] * 16)} with that.'
          WHEN 'near' THEN array_to_string(o.ls, chr(10)) || ' kettle.'
          ELSE array_to_string(o.ls, chr(10)) END AS text
        FROM (SELECT base.*, prose.ls FROM base JOIN prose USING (doc_id)) b
        JOIN prose o ON o.doc_id = b.src""")
    _copy(con, "SELECT doc_id, text FROM docs ORDER BY doc_id", f"{out}/documents.parquet")
    _copy(con, "SELECT doc_id, label, src FROM docs JOIN base USING (doc_id, label) ORDER BY doc_id",
          f"{out}/labels.parquet")
    # embeddings: 16-d, clustered around 40 centres; every 10th vector is a
    # near copy of its predecessor (cosine > 0.99)
    dims = 16
    vec = lambda k: f"list_transform(range({dims}), d -> (({_h(k, 'd', s, 60)} % 2001)::DOUBLE - 1000) / 1000)"
    con.execute(f"""
        CREATE TEMP TABLE emb AS
        SELECT doc_id::BIGINT AS vec_id, CASE WHEN doc_id % 10 = 9
          THEN list_transform({vec('doc_id - 1')}, x -> x * 1.001)
          ELSE {vec('doc_id')} END AS embedding
        FROM range(0, {n['embeddings']}) t(doc_id)""")
    _copy(con, "SELECT vec_id, embedding FROM emb ORDER BY vec_id", f"{out}/embeddings.parquet")
    # eval set: passages lifted from some good documents (contamination)
    _copy(con, f"""
        SELECT row_number() OVER (ORDER BY doc_id)::BIGINT AS doc_id,
          split_part(text, chr(10), 1) AS text
        FROM docs WHERE label = 'good' AND {_h('doc_id', s, 70)} % 40 = 0
        ORDER BY doc_id LIMIT {n['bench']}""", f"{out}/bench.parquet")
    _copy(con, f"""
        SELECT doc_id, text FROM docs WHERE label = 'good'
        ORDER BY {_h('doc_id', s, 71)}, doc_id LIMIT {n['target']}""", f"{out}/target.parquet")


def _stream_batches(con, out, s, n):
    os.makedirs(f"{out}/batches")
    B, P, C = n["batches"], n["purchases_per_batch"], n["clicks_per_batch"]
    # batch b covers event times [b, b+1) minutes; users 0..99; the last two
    # batches are far-future flush batches on users no other batch has.
    # Event times are UTC instants (streaming watermarks need TIMESTAMP).
    for b in range(B + 2):
        flush = b >= B
        t0 = f"TIMESTAMP '2024-01-01 00:00:00' + to_seconds({(b + (100000 if flush else 0)) * 60})"
        users = f"(-1 - {b - B})" if flush else f"({_h('i', s, b, 80)} % 100)"
        _copy(con, f"""
            SELECT ({b} * 100000 + i)::BIGINT AS p_id, {users}::BIGINT AS p_user,
              ({t0} + to_microseconds(({_h('i', s, b, 81)} % 60000000)::BIGINT))::TIMESTAMPTZ AS p_ts,
              ({_h('i', s, b, 82)} % 10000)::BIGINT AS p_amount
            FROM range(0, {1 if flush else P}) t(i) ORDER BY i""", f"{out}/batches/p_{b:04d}.parquet")
        users = f"(-1 - {b - B})" if flush else f"({_h('i', s, b, 83)} % 100)"
        _copy(con, f"""
            SELECT ({b} * 100000 + i)::BIGINT AS c_id, {users}::BIGINT AS c_user,
              ({t0} + to_microseconds(({_h('i', s, b, 84)} % 60000000)::BIGINT))::TIMESTAMPTZ AS c_ts
            FROM range(0, {1 if flush else C}) t(i) ORDER BY i""", f"{out}/batches/c_{b:04d}.parquet")


GENERATORS = {"frame_queries": _frame_queries, "corpus_pipeline": _corpus_pipeline}


def file_digests(root):
    """sha256 and size of every generated file, by relative path."""
    out = {}
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            rel = os.path.relpath(p, root)
            if rel == "manifest.json" or rel.startswith("reference-"):
                continue
            with open(p, "rb") as fh:
                out[rel] = {"sha256": hashlib.sha256(fh.read()).hexdigest(),
                            "bytes": os.path.getsize(p)}
    return out


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into `out` (once) and return
    the manifest: row counts per table and sha256/bytes per file."""
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return json.load(fh)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET preserve_insertion_order = true")
    GENERATORS[workload](con, tmp, int(seed), SIZES[workload])
    con.close()
    files = file_digests(tmp)
    manifest = {"workload": workload, "seed": int(seed), "rows": SIZES[workload],
                "bytes": sum(f["bytes"] for f in files.values()), "files": files}
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return manifest
