"""Seeded input generator for the graft benchmark.

Every table is synthesized in DuckDB from `(seed, stream, row key)`
through `hash()`, so the same seed always yields byte-identical parquet
files and a different seed yields different ones. The schemas and value
domains follow the engine's test corpora (a TPC-H-like star schema, an
`events` stream, a `documents` corpus with ~5% near-duplicates, unit
64-d `embeddings` in 10 label clusters); nothing outside the benchmark's
own directory is read.

Two input families, one per workload:

- `sync_snapshot`: a full table set, snapshot `k` of one crawl sequence.
  It drops ~5% of the base keys, adds new keys past the base range and
  revises ~5% of the remaining ones, independently per snapshot, in
  orders, lineitem, customer and documents. Documents and embeddings are
  crawled: snapshot `k` adds ids from a window of its own past every
  earlier one, so new ids rise from crawl to crawl. `base_crawl` is
  crawl 0 (documents and embeddings of the base keys), which the
  persisted stores are built from.
- `corpus`: corpus `k` of a sequence (documents only), which slides a
  tenth past corpus `k - 1`: a tenth of its documents leave, a tenth of
  new ones arrive.
"""
import os
import shutil

import duckdb

# sf0.01 row counts of the engine's test corpora
SF001 = {"customer": 1500, "orders": 15000, "events": 10000,
         "documents": 500, "embeddings": 500, "part": 2000, "supplier": 100}

VOCAB = ["join", "hash", "row", "batch", "scan", "customer", "column",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "data", "table", "agg", "value", "key", "stream", "window",
         "spark", "a", "group", "part", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def _con():
    con = duckdb.connect()
    # one thread + ORDER BY on every write: byte-identical files per seed
    con.execute("SET threads=1")
    con.execute("SET preserve_insertion_order=true")
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    langs = "[" + ",".join(f"'{w}'" for w in LANGS) + "]"
    # uniform [0,1) and integer [0,n) draws keyed by any tuple of values
    con.execute("CREATE MACRO u(a, b, c, d) AS "
                "(hash(a, b, c, d) % 1000003)::DOUBLE / 1000003")
    con.execute("CREATE MACRO ri(a, b, c, d, n) AS "
                "(hash(a, b, c, d) % (n)::UBIGINT)::BIGINT")
    # a document's words: `n` words drawn by (stream, doc, revision)
    con.execute(f"""CREATE MACRO words(s, x, v, n) AS array_to_string(
        list_transform(range(n), i -> {vocab}[1 + ri(s, x, v, i, 30)::INT]), ' ')""")
    con.execute(f"CREATE MACRO lang_of(s, x) AS {langs}[1 + ri(s, 'lang', x, 0, 7)::INT]")
    return con


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def _doc_text(s):
    """SQL for the text of doc `x` at revision `v`: 10..99 words, the
    length cycling with the id from a seeded start, so any 90 consecutive
    ids hold each length once. Every 20th doc (x % 20 = 19) is a
    near-duplicate of one of the 18 docs before it, which is never
    itself a duplicate: its text plus a 'dup' marker. A fixed duplicate
    count and length mix keep the work and the input bytes nearly the
    same from seed to seed."""
    n = lambda x, v: f"10 + ({x} + ri({s}, 'len', {v}, 0, 90)) % 90"
    own = f"words({s}, x, v, {n('x', 'v')})"
    src = f"(x - 1 - ri({s}, 'src', x, 0, 18))"
    dup = f"words({s}, {src}, 0, {n(src, 0)}) || ' dup'"
    return f"CASE WHEN x % 20 = 19 AND v = 0 THEN {dup} ELSE {own} END"


def _documents(con, s, ids_sql, path):
    """documents(doc_id, text, lang, source, n_chars) for the rows of
    `ids_sql`, a query with columns (x, v): doc id and text revision."""
    _copy(con, f"""
        SELECT x AS doc_id, text, lang_of({s}, x) AS lang,
               'src' || ri({s}, 'src', x, 1, 20)::VARCHAR AS source,
               length(text)::BIGINT AS n_chars
        FROM (SELECT x, {_doc_text(s)} AS text FROM ({ids_sql}))
        ORDER BY doc_id""", path)


def _embeddings(con, s, ids_sql, path):
    """embeddings(vec_id, embedding FLOAT[64], label): a label centroid
    plus noise, normalized to unit length."""
    comp = (f"(u({s}, 'c', label, d) + u({s}, 'c2', label, d) - 1.0)"
            f" + 0.6 * (u({s}, 'n', x, d) + u({s}, 'n2', x, d) - 1.0)")
    _copy(con, f"""
        SELECT x AS vec_id,
               list_transform(v, e -> e / sqrt(list_sum(list_transform(v, f -> f * f))))::FLOAT[] AS embedding,
               label::INTEGER AS label
        FROM (SELECT x, label, list_transform(range(64), d -> {comp}) AS v
              FROM (SELECT x, ri({s}, 'label', x, 0, 10) AS label FROM ({ids_sql})))
        ORDER BY vec_id""", path)


def _crawl_seed(seed):
    return f"'{seed}:crawl'"


def base_crawl(out_dir, seed):
    """Crawl 0: the documents and embeddings of every base key, unrevised."""
    os.makedirs(out_dir, exist_ok=True)
    con = _con()
    s = _crawl_seed(seed)
    for t, make in (("documents", _documents), ("embeddings", _embeddings)):
        make(con, s, f"SELECT x, 0 AS v FROM range({SF001[t]}) t(x)",
             os.path.join(out_dir, f"{t}.parquet"))
    con.close()


def sync_snapshot(out_dir, seed, snap):
    """Snapshot `snap` (0, 1, ...) of the crawl sequence: one full table
    set. In customer, orders (with their lineitems), documents and
    embeddings, ~5% of the base keys are dropped and ~5% of the rest are
    revised (customer balance, order price and status, document text).
    New keys appear with probability 0.3: for customer and orders in
    the tenth past the base range, for documents and embeddings in the
    snapshot's own tenth-sized window past the windows of the snapshots
    before it."""
    os.makedirs(out_dir, exist_ok=True)
    con = _con()
    s = _crawl_seed(seed)
    k = int(snap)
    n = SF001

    def present(tag, nbase, crawled=False):
        w = nbase // 10
        lo = nbase + (k * w if crawled else 0)
        return (f"SELECT x, CASE WHEN x < {nbase} AND ri({s}, 'rev{tag}', x, {k}, 20) = 0 "
                f"THEN {k + 1} ELSE 0 END AS v FROM "
                f"(SELECT x FROM range({nbase}) t(x) WHERE ri({s}, 'drop{tag}', x, {k}, 20) <> 0 "
                f"UNION ALL SELECT x FROM range({lo}, {lo + w}) t(x) "
                f"WHERE ri({s}, 'add{tag}', x, {k}, 10) < 3)")

    p = lambda t: os.path.join(out_dir, f"{t}.parquet")
    _copy(con, "SELECT r::INTEGER AS r_regionkey, name AS r_name FROM (VALUES "
               "(0,'AFRICA'),(1,'AMERICA'),(2,'ASIA'),(3,'EUROPE'),(4,'MIDDLE EAST')) t(r, name) "
               "ORDER BY r", p("region"))
    _copy(con, "SELECT x::INTEGER AS n_nationkey, 'NATION_' || x AS n_name, "
               "(x % 5)::INTEGER AS n_regionkey FROM range(25) t(x) ORDER BY x", p("nation"))
    _copy(con, f"""SELECT x AS s_suppkey, printf('Supplier#%09d', x) AS s_name,
        ri({s}, 'snat', x, 0, 25)::INTEGER AS s_nationkey,
        round(-999.99 + 10999.0 * u({s}, 'sbal', x, 0), 2) AS s_acctbal
        FROM range({n['supplier']}) t(x) ORDER BY x""", p("supplier"))
    _copy(con, f"""SELECT x AS p_partkey,
        ['small','red','blue','hot','cold','old','new','large'][1 + ri({s}, 'pa', x, 0, 8)::INT]
          || ' ' || ['bolt','gear','ring','rod','plate','anvil','widget','gizmo'][1 + ri({s}, 'pn', x, 0, 8)::INT] AS p_name,
        'Brand#' || (1 + ri({s}, 'pb', x, 0, 25))::VARCHAR AS p_brand,
        ['ECONOMY','STANDARD','LARGE','SMALL','MEDIUM','PROMO'][1 + ri({s}, 'pt', x, 0, 6)::INT] AS p_type,
        (1 + ri({s}, 'ps', x, 0, 50))::INTEGER AS p_size,
        round(900.0 + (x % 1000) * 0.1, 2)::DOUBLE AS p_retailprice
        FROM range({n['part']}) t(x) ORDER BY x""", p("part"))
    _copy(con, f"""SELECT x AS c_custkey, printf('Customer#%09d', x) AS c_name,
        ri({s}, 'cnat', x, 0, 25)::INTEGER AS c_nationkey,
        round(-999.99 + 10999.0 * u({s}, 'cbal', x, v), 2) AS c_acctbal,
        ['MACHINERY','AUTOMOBILE','HOUSEHOLD','BUILDING','FURNITURE'][1 + ri({s}, 'cseg', x, 0, 5)::INT] AS c_mktsegment
        FROM ({present('c', n['customer'])}) ORDER BY x""", p("customer"))
    ncust = n["customer"]
    _copy(con, f"""SELECT x AS o_orderkey, ri({s}, 'ocust', x, 0, {ncust}) AS o_custkey,
        ['P','O','F'][1 + ri({s}, 'ost', x, v, 3)::INT] AS o_orderstatus,
        round(1000.0 + 499000.0 * u({s}, 'oprice', x, v), 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(ri({s}, 'odate', x, 0, 2404)::INTEGER) AS o_orderdate,
        ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][1 + ri({s}, 'opri', x, 0, 5)::INT] AS o_orderpriority
        FROM ({present('o', n['orders'])}) ORDER BY x""", p("orders"))
    _copy(con, f"""SELECT x AS l_orderkey, ri({s}, 'lp', x, j, {n['part']}) AS l_partkey,
        ri({s}, 'lsup', x, j, {n['supplier']}) AS l_suppkey, (j + 1)::INTEGER AS l_linenumber,
        (1 + ri({s}, 'lq', x, j * 100 + v, 50))::DOUBLE AS l_quantity,
        round(900.0 + 104000.0 * u({s}, 'lext', x, j), 2) AS l_extendedprice,
        ri({s}, 'ldis', x, j, 11)::DOUBLE / 100 AS l_discount,
        ri({s}, 'ltax', x, j, 9)::DOUBLE / 100 AS l_tax,
        ['A','N','R'][1 + ri({s}, 'lrf', x, j, 3)::INT] AS l_returnflag,
        ['O','F'][1 + ri({s}, 'lls', x, j, 2)::INT] AS l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(ri({s}, 'lship', x, j, 2500)::INTEGER) AS l_shipdate
        FROM ({present('o', n['orders'])}), range(7) l(j)
        WHERE j < 1 + ri({s}, 'nl', x, 0, 7) ORDER BY x, j""", p("lineitem"))
    nev = n["events"]
    _copy(con, f"""SELECT x AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(((x * 2592000000000) // {nev}
            + ri({s}, 'ets', x, 0, 2592000000000 // {nev}))::BIGINT) AS ts,
        ri({s}, 'euser', x, 0, 150) AS user_id,
        ['click','signup','error','view','purchase'][1 + ri({s}, 'etype', x, 0, 5)::INT] AS event_type,
        round(0.01 + 490.0 * u({s}, 'eval', x, 0), 2) AS value,
        '{{"k": ' || ri({s}, 'eprop', x, 0, 100)::VARCHAR || '}}' AS props
        FROM range({nev}) t(x) ORDER BY x""", p("events"))
    _documents(con, s, present("d", n["documents"], crawled=True), p("documents"))
    _embeddings(con, s, present("e", n["embeddings"], crawled=True), p("embeddings"))
    con.close()


def corpus(out_dir, seed, k, n_docs):
    """Corpus `k` (0, 1, ...) of a sequence: `n_docs` documents (documents
    only) with ids from k * n_docs / 10, so each corpus drops the tenth
    of the previous one with the lowest ids and adds a tenth of new
    documents. A document's text depends on the seed and its id only."""
    os.makedirs(out_dir, exist_ok=True)
    con = _con()
    lo = k * (n_docs // 10)
    _documents(con, f"'{seed}:corpus'",
               f"SELECT x, 0 AS v FROM range({lo}, {lo + n_docs}) t(x)",
               os.path.join(out_dir, "documents.parquet"))
    con.close()


def ensure(path, make):
    """Generate into `path` once: build in a sibling temp dir, then rename,
    so an interrupted run never leaves a half-written input behind."""
    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    os.rename(tmp, path)
    return path
