"""Correctness checks for what a benchmark run wrote, outside its timed
window. Every output is compared in DuckDB against the engine's own
oracle SQL (`SparkEntry.oracleSql`) with the canonical compare of
`scripts/check_oracle.py`: columns sorted by name, rows sorted by value,
`DESCRIBE` types equal. The persisted stores' ids are checked against a
replay of their crawl-sync contract over the crawls they have seen (the
invariants of the engine's own crawl-cycle test).
"""
import importlib.util
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_oracle_module(root):
    """The engine's oracle replay script, loaded from the checkout."""
    path = os.path.join(root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def replay_tombstoned(crawls, keep=lambda x: True):
    """Live ids of a tombstoning store built from `crawls[0]` and then
    crawl-synced to each later crawl: an id that vanishes is tombstoned,
    a new one appended when `keep` admits it. An id with a physical row
    is never appended again, so a tombstoned id that comes back stays
    deleted until the store is compacted."""
    physical = {x for x in crawls[0] if keep(x)}
    tomb = set()
    for crawl in crawls[1:]:
        live = physical - tomb
        tomb |= live - crawl
        physical |= {x for x in crawl - live if keep(x)}
    return physical - tomb


def replay_span(crawls):
    """Report ids of the span store built from `crawls[0]`: each sync
    appends the crawl's ids above the high-water mark, which then moves
    to the largest of them."""
    report = set(crawls[0])
    high = max(report)
    for crawl in crawls[1:]:
        batch = {x for x in crawl if x > high}
        if batch:
            report |= batch
            high = max(batch)
    return report


def id_diff(expect, got):
    """None when the id sets are equal, else a one-line reason."""
    if expect == got:
        return None
    miss, extra = sorted(expect - got), sorted(got - expect)
    return f"{len(miss)} ids missing (first {miss[:3]}), {len(extra)} unexpected (first {extra[:3]})"


class Checker:
    def __init__(self, root, oracles):
        self.co = load_oracle_module(root)
        self.oracles = oracles
        self._cons = {}

    def con(self, d):
        """A DuckDB connection with the input dir's tables as views (none
        for `d` empty)."""
        if d not in self._cons:
            c = duckdb.connect()
            for t in TABLES if d else ():
                p = os.path.join(d, f"{t}.parquet")
                if os.path.exists(p):
                    c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            self._cons[d] = c
        return self._cons[d]

    def oracle(self, con, key):
        """The oracle's result as a table, computed once per input dir."""
        name = f"oracle_{key}"
        if not con.sql(f"SELECT 1 FROM duckdb_tables() WHERE table_name = '{name}'").fetchall():
            con.sql(f"CREATE TEMP TABLE {name} AS {self.oracles[key]}")
        return f"SELECT * FROM {name}"

    def ids(self, path, col, where=""):
        con = self.con("")
        return {r[0] for r in con.sql(f"SELECT {col} FROM {path} {where}").fetchall()}

    def crawl_ids(self, crawls, table, col):
        return [self.ids(f"'{d}/{table}.parquet'", col) for d in crawls]

    def close(self):
        for c in self._cons.values():
            c.close()
        self._cons.clear()

    def compare(self, con, expect_sql, got_sql, types=True):
        """None when equal, else a one-line reason."""
        co = self.co
        if types:
            bad = co.type_mismatches(co.described_types(con, f"({expect_sql})"),
                                     co.described_types(con, f"({got_sql})"))
            if bad:
                return "type mismatch " + ", ".join(f"{c}: {a} vs {b}" for c, a, b in bad)
        o = con.sql(expect_sql)
        oc, orows = co.canon(o.fetchall(), list(o.columns))
        s = con.sql(got_sql)
        sc, srows = co.canon(s.fetchall(), list(s.columns))
        if oc != sc:
            return f"columns {oc} vs {sc}"
        if len(orows) != len(srows):
            return f"rows {len(orows)} vs {len(srows)}"
        diff = [(a, b) for a, b in zip(orows, srows) if a != b]
        if diff:
            return f"{len(diff)} differing rows; first {diff[0][0]} vs {diff[0][1]}"
        return None

    def check(self, spec):
        """Verify one call's output; None when correct."""
        kind = spec.get("kind")
        if kind is None:
            return None
        con = self.con(spec.get("dir", ""))
        out = spec.get("out")
        if kind == "oracle":
            return self.compare(con, self.oracle(con, spec["key"]),
                                f"SELECT * FROM '{out}/*.parquet'")
        if kind == "search_store":
            # the synced store's inverted index equals the full-corpus one
            return self.compare(con, self.oracles["inverted_index"],
                                f"SELECT * FROM '{out}/*.parquet'")
        if kind == "sync_and_index":
            # exactly the dirty keys' search docs, chunk-bounded
            dirty = (f"SELECT key FROM ({self.oracles['sync_diff']}) "
                     "WHERE status IN ('new', 'changed')")
            expect = (f"SELECT * FROM ({self.oracles['search_doc']}) "
                      f"WHERE key IN ({dirty})")
            written = f"read_parquet('{out}/*/*/*.parquet', hive_partitioning = true)"
            cols = [r[0] for r in con.sql(f"DESCRIBE ({expect})").fetchall()]
            got = f"SELECT {', '.join(cols)} FROM {written}"
            err = self.compare(con, expect, got, types=False)
            if err:
                return err
            big = con.sql(f"SELECT max(n) FROM (SELECT count(*) n FROM {written} "
                          "GROUP BY n_name, chunk_id)").fetchone()[0]
            return None if big is None or big <= 500 else f"chunk of {big} rows > 500"
        if kind == "manifest":
            # the survivor manifest is the report's keep set, prefix-summed
            keep = (f"SELECT doc_id FROM ({self.oracle(con, 'curation_report')}) "
                    "WHERE keep = 1")
            err = self.compare(con, keep, f"SELECT doc_id FROM '{out}/*.parquet'",
                               types=False)
            if err:
                return "manifest " + err
            bad = con.sql(f"""SELECT count(*) FROM (
                SELECT start, coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run
                FROM '{out}/*.parquet') WHERE start <> run""").fetchone()[0]
            return None if bad == 0 else f"{bad} manifest rows break the running token sum"
        if kind == "decision_store":
            # decisions exclude the eval split (doc_id % 97 = 0)
            expect = replay_tombstoned(self.crawl_ids(spec["crawls"], "documents", "doc_id"),
                                       keep=lambda x: x % 97 != 0)
            err = id_diff(expect, self.ids(f"'{out}/*.parquet'", "doc_id"))
            return err and "decision ids: " + err
        if kind == "vector_store":
            expect = replay_tombstoned(self.crawl_ids(spec["crawls"], "embeddings", "vec_id"))
            for part in ("codes", "lists"):
                err = id_diff(expect, self.ids(f"'{out}/{part}/*.parquet'", "vec_id"))
                if err:
                    return f"vector {part} ids: {err}"
            return None
        if kind == "span_store":
            expect = replay_span(self.crawl_ids(spec["crawls"], "documents", "doc_id"))
            err = id_diff(expect, self.ids(f"'{out}/*.parquet'", "doc_id"))
            return err and "span report ids: " + err
        if kind == "ann_indexed":
            # the indexed read replayed from the store's live artifacts
            expect = self.oracles["ann_ivf_pq_indexed"].replace(
                "{{scratch:ivfpq}}", spec["index"])
            return self.compare(con, expect, f"SELECT * FROM '{out}/*.parquet'")
        return f"unknown check kind {kind}"
