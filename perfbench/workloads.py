"""The benchmark's workloads. See README.md for why each one exists.

A workload synthesizes its inputs, warms up, and then offers ops in
cycles: every cycle holds the same multiset of ops, and the seed only
decides their order and grouping, so runs with different seeds measure
the same work. Each op's output is checked outside the timed window.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import random

#: Rows in each synthetic registry source file; a changed file
#: alternates between BASE_ROWS and BASE_ROWS + EXTRA_ROWS, so a
#: published table shows which version it holds.
BASE_ROWS = 300
EXTRA_ROWS = 20
#: Ticks per rotation: each tick changes about a quarter of the URLs.
GROUPS = 4

CURATION_SF = 0.02
CURATION_QUERIES = (
    "d03_minhash_band_candidates",
    "d09_fuzzy_dedup_e2e",
    "t13_exact_substring_scrub",
    "s09_filtered_ann",
    "c06_corpus_shuffle",
)


def _maybe(tracer, name: str):
    if tracer is None:
        return contextlib.nullcontext()
    return tracer.span(name)


class RegistryRefresh:
    """One op is one cron tick: ``Engine.load_all`` over the registry
    datasets that have no custom builder. A seeded rotation answers 200
    with a new ETag for one group (about a quarter) of the datasets and
    304 for the rest."""

    name = "registry_refresh"

    def __init__(self, spark, root: str, seed: int) -> None:
        from nycdb_k8s_loader_spark.datasets import builtin_registry

        self.spark = spark
        self.root = root
        self.rng = random.Random(seed)
        self.seed = seed
        self.registry = builtin_registry()
        self.datasets = [
            n for n in self.registry.names()
            if self.registry.get(n).builder is None
        ]
        self.warehouse = os.path.join(root, "warehouse")
        self.version = {n: 0 for n in self.datasets}
        self.tick = 0
        self.etag: dict[str, str] = {}
        self.dataset_of: dict[str, str] = {}
        self.payloads: dict[tuple[str, int], bytes] = {}
        self.rows: dict[tuple[str, int], int] = {}
        self.groups = self._deal_groups()
        self.engine = None
        self._changed: list[str] = []
        self._before: dict[str, list] = {}

    def _deal_groups(self) -> list[list[str]]:
        """Split the datasets into GROUPS groups of similar total cost:
        seeded shuffle, then a snake deal in order of a cost proxy
        (files, typed tables and SQL scripts), so no seed puts all the
        heavy datasets into one tick."""
        def cost(n: str) -> int:
            ds = self.registry.get(n)
            typed = [t for t in ds.tables if t.schema is not None]
            return len(ds.files) + len(typed) + 3 * len(ds.sql) + 3 * any(
                f.format != "csv" for f in ds.files
            )

        order = list(self.datasets)
        self.rng.shuffle(order)
        order.sort(key=cost, reverse=True)
        groups: list[list[str]] = [[] for _ in range(GROUPS)]
        for i, n in enumerate(order):
            lap, pos = divmod(i, GROUPS)
            groups[pos if lap % 2 == 0 else GROUPS - 1 - pos].append(n)
        self.rng.shuffle(groups)
        return groups

    def synthesize(self) -> None:
        from fixture_gen import (
            csv_bytes,
            shapefile_zip_from_schema,
            synth_rows,
            xlsx_bytes,
        )

        for n in self.datasets:
            ds = self.registry.get(n)
            for f in ds.files:
                schema = self._table_for_dest(ds, f.dest).schema
                salt = int(hashlib.md5(f.dest.encode()).hexdigest()[:4], 16)
                for v in (0, 1):
                    rows = BASE_ROWS + v * EXTRA_ROWS
                    if f.format == "shapefile":
                        data = shapefile_zip_from_schema(
                            schema, rows, salt + v
                        )
                    else:
                        header, body = synth_rows(schema, rows, salt + v)
                        data = (xlsx_bytes if f.format == "excel"
                                else csv_bytes)(header, body)
                    self.payloads[(f.url, v)] = data
                    self.rows[(f.url, v)] = rows
                self.etag[f.url] = f'"{self.seed}-0"'
                self.dataset_of[f.url] = n

    @staticmethod
    def _table_for_dest(ds, dest: str):
        for t in ds.tables:
            if t.files is not None and dest in t.files:
                return t
        return next(t for t in ds.tables if t.schema is not None)

    def _transport(self, url: str, headers: dict[str, str]):
        from nycdb_k8s_loader_spark.state.lastmod import FetchResult

        if headers.get("If-None-Match") == self.etag[url]:
            return FetchResult(304)
        return FetchResult(200, etag=self.etag[url])

    def _download(self, url: str, dest: str) -> None:
        with open(dest, "wb") as fh:
            fh.write(self.payloads[(url, self.version[self.dataset_of[url]])])

    def build_engine(self) -> None:
        """Built the way cli.py builds it: ParquetKVStore and the
        default copy publish into ``public``."""
        from nycdb_k8s_loader_spark.engine import Engine
        from nycdb_k8s_loader_spark.state.kvstore import ParquetKVStore

        self.engine = Engine(
            self.spark,
            self.registry,
            ParquetKVStore(os.path.join(self.root, "state", "kv.parquet")),
            landing_root=os.path.join(self.root, "landing"),
            transport=self._transport,
            downloader=self._download,
        )

    def warm_up(self) -> None:
        """The first tick: every URL is new, so every dataset loads."""
        self.build_engine()
        self._changed = list(self.datasets)
        self._before = {}
        self._result = self.engine.load_all(self.datasets)

    def warm_up_errors(self) -> list[str]:
        return self.check(None, self._result)

    def cycle(self, _n: int) -> list[int]:
        return list(range(GROUPS))

    def prepare(self, group: int) -> None:
        self.tick += 1
        self._changed = self.groups[group]
        self._before = {
            n: self._listing(n) for n in self.datasets
            if n not in self._changed
        }
        for n in self._changed:
            self.version[n] ^= 1
            for url in self.registry.urls(n):
                self.etag[url] = f'"{self.seed}-{self.tick}"'

    def op(self, _group: int, tracer=None):
        return self.engine.load_all(self.datasets)

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.warehouse, "public.db", table)

    def _listing(self, name: str) -> list:
        out = []
        for t in self.registry.tables_for(name):
            d = self._table_dir(t)
            out.append(sorted(
                (f, os.path.getsize(os.path.join(d, f)))
                for f in os.listdir(d)
            ) if os.path.isdir(d) else None)
        return out

    def check(self, _group, results) -> list[str]:
        """Changed datasets publish their fixture row counts; every
        other dataset is skipped and its table files are untouched."""
        from spans import parquet_rows

        errors = []
        by_name = {r.dataset: r for r in results}
        for n in self.datasets:
            r = by_name.get(n)
            if r is None:
                errors.append(f"{n}: no result")
                continue
            if n not in self._changed:
                if not r.skipped:
                    errors.append(f"{n}: loaded although unchanged")
                elif self._listing(n) != self._before[n]:
                    errors.append(f"{n}: skipped but its tables changed")
                continue
            if r.skipped:
                errors.append(f"{n}: skipped although changed")
                continue
            ds = self.registry.get(n)
            all_dests = [f.dest for f in ds.files]
            rows_of = {
                f.dest: self.rows[(f.url, self.version[n])] for f in ds.files
            }
            for t in ds.tables:
                if t.schema is None:
                    continue
                want = sum(rows_of[d] for d in (t.files or all_dests))
                got = parquet_rows(self._table_dir(t.name))
                if got != want:
                    errors.append(f"{n}.{t.name}: {got} rows, want {want}")
        return errors


class Curation:
    """One op is one LLM-data curation query, built and forced with a
    noop write. Outputs are checked once per query, in the warm-up,
    against the catalog's DuckDB oracle on the same parquet."""

    name = "curation"

    def __init__(self, spark, root: str, seed: int) -> None:
        from nycdb_k8s_loader_spark.plans.catalog import oracle_sql, queries

        self.spark = spark
        self.data = os.path.join(root, "data")
        self.rng = random.Random(seed)
        all_queries = queries()
        self.queries = {q: all_queries[q] for q in CURATION_QUERIES}
        self.oracles = oracle_sql()
        self.verified: dict[str, list[str]] = {}

    def synthesize(self) -> None:
        import gen_scale_data as g

        counts = g._counts(CURATION_SF)
        tables = {
            "documents": g.gen_documents(self.spark, counts["documents"]),
            "embeddings": g.gen_embeddings(self.spark, counts["embeddings"]),
        }
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(
                os.path.join(self.data, f"{name}.parquet")
            )

    def warm_up(self) -> None:
        """Run every query once and keep its rows for the oracle check;
        the first run of each query pays one-off compilation."""
        self._outputs = {}
        for q in self._order():
            df = self.queries[q](self.spark, self.data)
            self._outputs[q] = df.toPandas()

    def warm_up_errors(self) -> list[str]:
        import duckdb
        from test_oracle_parity import assert_frames_match

        errors = []
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.data, f"{t}.parquet", "*.parquet")
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
            for q, got in self._outputs.items():
                want = con.execute(self.oracles[q]).fetchdf()
                # the oracle-parity test's comparison: columns by name,
                # rows sorted, floats to 1e-9
                try:
                    assert_frames_match(got, want, q)
                    self.verified[q] = []
                except AssertionError as exc:
                    self.verified[q] = [str(exc)]
                errors += self.verified[q]
        finally:
            con.close()
        self._outputs = {}
        return errors

    def _order(self) -> list[str]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def cycle(self, _n: int) -> list[str]:
        return self._order()

    def prepare(self, _query: str) -> None:
        pass

    def op(self, query: str, tracer=None):
        with _maybe(tracer, "plans.build"):
            df = self.queries[query](self.spark, self.data)
        with _maybe(tracer, "plans.exec"):
            df.write.format("noop").mode("overwrite").save()

    def check(self, query: str, _result) -> list[str]:
        return self.verified[query]


WORKLOADS = {w.name: w for w in (RegistryRefresh, Curation)}
