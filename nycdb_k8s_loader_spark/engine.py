"""Engine orchestration: the full per-dataset load lifecycle.

Spark re-expression of /root/reference/load_dataset.py:308-381:

    check URLs (conditional GET) ── unchanged? → skip everything
        │ changed
    Engine.run_protocol — the one protocol for standard loads, custom
    builders and streaming loads:
        staging namespace:  download to landing dir, read typed sources
                            run SQL scripts / populate hooks
                            validate declared TableChecks
        publish staging → target namespace (grants reapplied)
        replay function DDL
        │
    update lastmod validators + dataset tracker   (only after publish)

Boundary behavior mirrors the reference exactly: 304-everywhere skips
the Spark job entirely (work avoidance, lastmod.py:49-62 +
load_dataset.py:352-357); state is persisted only after a successful
publish so a crashed load retries from scratch; custom datasets
dispatch to registered builders (load_dataset.py:319-338).
"""

from __future__ import annotations

import functools
import logging
import os
import threading
from collections.abc import Callable, Iterator, Sequence
from concurrent.futures import ThreadPoolExecutor
from contextlib import AbstractContextManager, contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from nycdb_k8s_loader_spark.functions.registry import (
    FunctionRegistry,
    default_registry,
)
from nycdb_k8s_loader_spark.publish.parse_created_tables import (
    is_function_sql,
    parse_created_tables,
    split_statements,
)
from nycdb_k8s_loader_spark.publish.protocol import Publisher
from nycdb_k8s_loader_spark.publish.resolver import SearchPathResolver
from nycdb_k8s_loader_spark.publish.transpile import transpile_pg
from nycdb_k8s_loader_spark.registry import DatasetDef, Registry
from nycdb_k8s_loader_spark.sources.readers import landing_path, read_source_table
from nycdb_k8s_loader_spark.state.lastmod import Transport, UrlModTracker, requests_transport
from nycdb_k8s_loader_spark.state.tracker import DatasetTracker

log = logging.getLogger("nycdb_k8s_loader_spark")


@dataclass
class LoadResult:
    dataset: str
    skipped: bool
    published: list[str] = field(default_factory=list)


class Notifier:
    """Pluggable progress/error notifications (reference: lib/slack.py
    — webhook messages with HTML escaping, errors swallowed so a
    notification failure never fails a load, slack.py:63-76)."""

    def notify(self, message: str) -> None:  # pragma: no cover - iface
        log.info("%s", message)

    def safe_notify(self, message: str) -> None:
        try:
            self.notify(message)
        except Exception:  # noqa: BLE001 - by contract never raise
            log.warning("notifier failed for %r", message, exc_info=True)


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        registry: Registry,
        kv,
        target_db: str = "public",
        landing_root: str = "/tmp/nycdb_landing",
        transport: Transport = requests_transport,
        downloader: Callable[[str, str], None] | None = None,
        notifier: Notifier | None = None,
        search_path: list[str] | None = None,
        functions: FunctionRegistry | None = None,
        exporters: dict[str, Callable[[], None]] | None = None,
        publish_external_root: str | None = None,
        versioned_publish: bool = False,
    ) -> None:
        self.spark = spark
        self.registry = registry
        self.kv = kv
        # publish_external_root opts into the external publish
        # (versioned path + external-table pointer flip; see the
        # publish/protocol.py module docstring). Without it, tables
        # stay catalog-managed and publish moves each staged table's
        # directory — either way the data is written once.
        self.publish_external_root = publish_external_root
        # versioned_publish opts into CROSS-TABLE-atomic publish: all
        # of a load's tables land in one fresh version database and
        # commit via one pointer flip in this engine's KV store — the
        # reference's single-transaction schema swap
        # (load_dataset.py:244-252). Readers go through
        # self.version_pointer (read_published / the resolvers below).
        from nycdb_k8s_loader_spark.publish.protocol import VersionPointer

        self.version_pointer = (
            VersionPointer(kv) if versioned_publish else None
        )
        self.publisher = Publisher(
            spark,
            target_db,
            external_root=publish_external_root,
            version_pointer=self.version_pointer,
        )
        self.landing_root = landing_root
        self.transport = transport
        self.downloader = downloader or self._download
        self.notifier = notifier or Notifier()
        self.tracker = DatasetTracker(kv)
        # Grant metadata survives publishes in the KV store (K10;
        # reference save_and_reapply_permissions wraps every swap,
        # load_dataset.py:172-200, wowutil.py:166).
        from nycdb_k8s_loader_spark.publish.grants import GrantRegistry

        self.grants = GrantRegistry(kv)
        self.search_path = search_path or [target_db]
        self.functions = functions or default_registry()
        # Reference-named table functions, bound to this engine's
        # namespaces and probed post-publish like the reference's
        # function-existence tests (tests/test_load_dataset.py:37-41,
        # tests/test_wowutil.py:42-44).
        from nycdb_k8s_loader_spark.functions.reference_fns import (
            register_reference_fns,
        )

        register_reference_fns(self.functions, target_db=target_db)
        # Named downstream exporters (reference: the Algolia landlord-
        # index client, wowutil.py:101-110 — "not configured" is a
        # notified skip, never an error). Builders gate these through
        # state/export_gate.py on source lastmod.
        self.exporters = exporters or {}
        # Concurrency guard for the parallel load_all: KV state is
        # read-modify-write (a lost update would silently re-download
        # forever) so it serializes. Script execution does NOT — DDL
        # targets are qualified into each load's staging db by the
        # resolver (ddl_db), so no session-global state exists to
        # protect and every Spark job (scans, CTAS, populate,
        # publishes) runs concurrently across a dependency level.
        self._state_lock = threading.Lock()
        # session-start registration (reference re-creates functions at
        # connect time via search-path scripts; O2/U2)
        self.functions.apply(spark)

    @staticmethod
    def _download(url: str, dest: str) -> None:  # pragma: no cover - network
        import urllib.request

        urllib.request.urlretrieve(url, dest)

    def read_published(self, table: str):
        """Read a published table the way a downstream consumer should:
        through the version pointer when versioned publish is on (one
        committed version, never a mid-publish mix), else the target
        database directly."""
        db = self.publisher.target_db
        if self.version_pointer is not None:
            db = self.version_pointer.resolve(db)
        return self.spark.table(f"`{db}`.`{table}`")

    # -- the lifecycle ---------------------------------------------------------

    def load(self, name: str, force: bool = False) -> LoadResult:
        ds = self.registry.get(name)
        self.notifier.safe_notify(f"Loading dataset {name}…")

        modtracker = UrlModTracker(self.registry.urls(name), self.kv, self.transport)
        if ds.files and not force and not modtracker.did_any_urls_change():
            # Reference short-circuit (load_dataset.py:352-357).
            self.notifier.safe_notify(f"{name} is unchanged; skipping load.")
            return LoadResult(dataset=name, skipped=True)

        if ds.builder is not None:
            # Custom-dataset dispatch (load_dataset.py:319-338); every
            # builder runs its pipeline through run_protocol too.
            published = ds.builder(self.spark, self)
        else:
            published = self.run_protocol(ds, self.publisher, None, ds.sql)

        with self._state_lock:
            modtracker.update_lastmods()
            self.tracker.update_tracker(name)
        self.notifier.safe_notify(f"Finished loading {name}.")
        return LoadResult(dataset=name, skipped=False, published=published)

    def run_protocol(
        self,
        ds: DatasetDef,
        publisher: Publisher,
        tables: list[str] | None,
        steps: Sequence[str | Callable[[SparkSession, str], None]],
        namespaces: Sequence[str] = (),
        ingest: Callable[[str], AbstractContextManager] | None = None,
    ) -> list[str]:
        """The one load protocol every dataset runs (reference:
        load_dataset.py:209-252, 352-376; the custom builders share it,
        wowutil.py:144-186):

        1. open a staging namespace on ``publisher``;
        2. ``ingest(staging_db)`` stages the typed source tables — by
           default :meth:`_ingest_sources` (download to landing, typed
           read). The hook is a context manager that wraps steps 3-5,
           so a caller can react to their failure or success
           (``load_streaming`` quarantines or commits its increments);
        3. run ``steps`` in order: a path is a Postgres-dialect SQL
           script, transpiled and run statement by statement with
           staging-first name resolution; a callable is a Python
           populate hook ``step(spark, staging_db)``;
        4. validate every declared ``TableChecks`` on its staging copy;
        5. publish ``tables`` (None: the typed tables plus every table
           the scripts CREATE) with grants snapshotted across the swap;
        6. replay the scripts' function DDL.

        A failure before step 5 raises with the staging namespace
        dropped and the published tables untouched.
        """
        # looked up per call, so a wrapper installed on the module
        # attribute (tracing) is honored
        from nycdb_k8s_loader_spark.publish.validate import validate_or_raise

        if ingest is None:
            ingest = functools.partial(self._ingest_sources, ds, publisher)
        created = (
            [t.name for t in ds.tables if t.schema is not None]
            if tables is None
            else list(tables)
        )
        function_stmts: list[str] = []
        with publisher.staging(ds.name) as staging_db, ingest(staging_db):
            # ddl_db qualifies CTAS/DROP/RENAME targets into THIS
            # load's staging namespace — no session-global
            # setCurrentDatabase, so concurrent loads (parallel
            # load_all levels) run their script Spark jobs fully
            # overlapped instead of serializing on a lock.
            resolver = SearchPathResolver(
                self.spark,
                [staging_db, *namespaces, *self.search_path],
                ddl_db=staging_db,
                pointer=self.version_pointer,
            )
            for step in steps:
                if callable(step):
                    step(self.spark, staging_db)
                    continue
                with open(step, encoding="utf-8") as fh:
                    sql_text = fh.read()
                for stmt in split_statements(sql_text):
                    # classify BEFORE rewriting: a CREATE FUNCTION
                    # body that calls a registered table function is
                    # replayed post-publish verbatim, never with a
                    # session-temporary view name baked in
                    if is_function_sql(stmt):
                        function_stmts.append(transpile_pg(stmt))
                        continue
                    # table-function calls in FROM position become
                    # materialized temp views (the reference's
                    # SQL-invocable set-returning functions)
                    stmt = self.functions.materialize_table_fn_calls(
                        self.spark, stmt
                    )
                    resolver.sql(transpile_pg(stmt))
                if tables is None:
                    created += [
                        t for t in parse_created_tables(sql_text)
                        if t not in created
                    ]

            # validation gate: staging copies must pass their declared
            # checks or the load raises HERE — the staging ctx drops on
            # the way out and readers keep the last good version
            # (publish/validate.py; one aggregation pass per table)
            for table in ds.tables:
                if table.checks is not None:
                    validate_or_raise(
                        table.name,
                        self.spark.table(f"`{staging_db}`.`{table.name}`"),
                        table.checks,
                    )

            with self.grants.save_and_reapply(publisher.target_db, created):
                published = publisher.publish_tables(staging_db, created)

        # post-publish function re-registration (reference:
        # load_dataset.py:372-376, wowutil.py:170-181). Registry
        # functions always re-apply; script-declared functions run if
        # they are Spark-compatible DDL (CREATE TEMPORARY FUNCTION ...
        # RETURN expr) — Postgres procedural bodies are logged and
        # skipped, the publish stands.
        self.functions.apply(self.spark)
        for stmt in function_stmts:
            try:
                self.spark.sql(stmt)
            except Exception:  # noqa: BLE001 - dialect gap, not fatal
                log.warning(
                    "function DDL is not Spark-compatible; register it "
                    "in the FunctionRegistry instead:\n%s", stmt[:200]
                )
        return published

    @contextmanager
    def _ingest_sources(
        self, ds: DatasetDef, publisher: Publisher, staging_db: str
    ) -> Iterator[None]:
        """Refresh the landing copy of EVERY source file, then stage
        each typed table. The conditional-GET gate already decided the
        dataset changed, so an existing landing file may be stale —
        re-downloading only missing files would publish old bytes and
        then persist the new validators, silently losing the update
        forever. Each table reads only the files mapped to it (None =
        the whole dataset), format-dispatched per source file."""
        dest_paths: dict[str, str] = {}
        for f in ds.files:
            dest = landing_path(self.landing_root, ds.name, f.dest)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            self.downloader(f.url, dest)
            dest_paths[f.dest] = dest
        formats = {f.dest: f.format for f in ds.files}
        for table in ds.tables:
            if table.schema is None:
                continue  # derived table, produced by the steps
            df = read_source_table(
                self.spark, table, dest_paths, formats,
                csv_options=ds.csv_options,
            )
            publisher.write_staging_table(staging_db, table.name, df)
        yield

    def load_streaming(
        self, name: str, max_files_per_trigger: int | None = None
    ) -> LoadResult:
        """Streaming ingestion of a standard registry dataset — the
        reference's cron unit of work as a CHECKPOINTED incremental
        stream (SURVEY §2.9's declared stretch). Source files are
        DROPPED into ``<landing_root>/<name>/stream/<table>/`` (by an
        upstream fetcher, a cloud transfer job, or tests); each call
        runs :meth:`run_protocol` with :meth:`_ingest_stream` as its
        ingest step:

        1. one ``availableNow`` pass per typed table —
           ``incremental_csv_source`` (readStream + registry schema)
           staging each micro-batch as a plain parquet dir under
           ``_stream/<table>/pending/`` (``run_available_now_staged``),
           with the file-source checkpoint remembering which files
           earlier calls consumed, so a rerun processes only NEW drops;
           the staged table is the (durable store ∪ pending increment)
           union;
        2. the dataset's SQL, TableChecks validation and atomic publish
           run exactly as in a batch load. A failing check MOVES the
           indicted increment (the failing table's, or every table's
           when a derived table fails) to
           ``_stream/<table>/quarantine/<n>/`` and the load aborts with
           the quarantine path in the error: the next call republishes
           the clean store, and the operator can inspect/fix/re-drop
           the quarantined files. (Without this gate a corrupt drop
           would be committed to the store AND marked consumed in the
           checkpoint, wedging every subsequent call.)
        3. only after the publish succeeds are the pending files MOVED
           into the durable store — the store therefore always holds
           last-known-good data.

        Incremental in compute (per-call cost ∝ new files), full-table
        in publish semantics — the same contract the reference's
        repeated cron loads provide, minus the re-download of
        unchanged source files. The store/checkpoint live under
        ``<landing_root>/<name>/_stream/`` — on a real cluster, point
        ``landing_root`` at durable shared storage.

        ``max_files_per_trigger`` bounds every micro-batch (the file
        sources' maxFilesPerTrigger): a 100-file backlog drains across
        ceil(100/N) bounded triggers inside ONE availableNow pass
        instead of a single unbounded batch — the backpressure knob a
        large drop needs at deploy scale (round-6 brief #6).

        Source formats: CSV tables stream through the typed CSV file
        source; Excel/shapefile tables stream as OPAQUE FILES
        (binaryFile source — same checkpointed new-files-only
        tracking) whose bytes each micro-batch parses ON THE
        EXECUTORS via mapInPandas (same stdlib parser cores as the
        batch readers; the driver never materializes file content). A
        table mixing CSV and binary formats has no single stream shape
        and fails loudly.
        """
        ds = self.registry.get(name)
        published = self.run_protocol(
            ds, self.publisher, None, ds.sql,
            ingest=functools.partial(
                self._ingest_stream, ds, max_files_per_trigger
            ),
        )
        return LoadResult(dataset=name, skipped=False, published=published)

    @contextmanager
    def _ingest_stream(
        self,
        ds: DatasetDef,
        max_files_per_trigger: int | None,
        staging_db: str,
    ) -> Iterator[None]:
        """load_streaming's ingest step: stage each typed table from its
        stream store plus the pending increment; quarantine on a failed
        check, commit the increments after the publish."""
        from nycdb_k8s_loader_spark.publish.validate import ValidationError
        from nycdb_k8s_loader_spark.streaming.pipeline import (
            incremental_binary_source,
            incremental_csv_source,
            run_available_now_staged,
            run_available_now_staged_binary_distributed,
        )

        formats = {f.dest: f.format for f in ds.files}

        def _table_format(table) -> str:
            dests = (
                table.files if table.files is not None else list(formats)
            )
            fmts = {formats.get(d, "csv") for d in dests} or {"csv"}
            if len(fmts) > 1:
                raise ValueError(
                    f"load_streaming({ds.name!r}): table {table.name!r} "
                    f"mixes source formats {sorted(fmts)} — no single "
                    "stream shape; split the table or use the batch "
                    "load"
                )
            return next(iter(fmts))

        # (table, stream root, durable store, pending batch dirs)
        pending_commits: list[tuple[str, str, str, list[str]]] = []
        for table in ds.tables:
            if table.schema is None:
                continue
            stream_root = os.path.join(
                self.landing_root, ds.name, "_stream", table.name
            )
            land = os.path.join(self.landing_root, ds.name, "stream", table.name)
            store = os.path.join(stream_root, "data")
            pending = os.path.join(stream_root, "pending")
            ckpt = os.path.join(stream_root, "ckpt")
            os.makedirs(land, exist_ok=True)
            os.makedirs(store, exist_ok=True)
            fmt = _table_format(table)
            if fmt == "csv":
                src = incremental_csv_source(
                    self.spark, land, table.schema,
                    max_files_per_trigger=max_files_per_trigger,
                )
                run_available_now_staged(src, pending, ckpt)
            else:
                src = incremental_binary_source(
                    self.spark, land,
                    max_files_per_trigger=max_files_per_trigger,
                )
                # parse on the EXECUTORS (mapInPandas) — the driver
                # never materializes file bytes, so an unbounded drop
                # backlog can't OOM it
                run_available_now_staged_binary_distributed(
                    src, pending, ckpt,
                    self._binary_row_parser(fmt, table.schema),
                    table.schema,
                )
            # pending = this call's increment plus any batches a
            # crashed/aborted earlier call staged but never committed —
            # both re-enter validation here
            batch_dirs = (
                sorted(
                    os.path.join(pending, d)
                    for d in os.listdir(pending)
                    if d.startswith("batch-")
                )
                if os.path.isdir(pending)
                else []
            )
            accumulated = self.spark.read.schema(table.schema).parquet(
                store, *batch_dirs
            )
            self.publisher.write_staging_table(
                staging_db, table.name, accumulated
            )
            pending_commits.append((table.name, stream_root, store, batch_dirs))
        try:
            yield
        except ValidationError as err:
            # a typed table's check indicts its own increment; a
            # derived table's check indicts the whole increment set
            blamed = [
                p for p in pending_commits if p[0] == err.table
            ] or pending_commits
            qdirs = [
                self._quarantine_pending(root, dirs)
                for _table, root, _store, dirs in blamed
                if dirs
            ]
            err.args = (
                f"{err.args[0]} — increment quarantined to {qdirs}; the "
                "durable store keeps the last validated data and the "
                "next load_streaming call republishes it (inspect/fix/"
                "re-drop the quarantined files to recover the increment)",
            )
            raise
        # everything validated and the publish succeeded — commit the
        # increments into the durable stores. A crash between publish
        # and here just leaves the batches pending; the next call
        # re-validates and re-publishes the same data (idempotent),
        # then commits.
        for _table, _root, store, batch_dirs in pending_commits:
            self._commit_pending(store, batch_dirs)

    @staticmethod
    def _binary_row_parser(fmt: str, schema):
        """row_parser for the DISTRIBUTED binaryFile stage: a pure
        picklable ``(path, content) -> list[string-row tuples]``
        closing over nothing but the format tag and the (picklable)
        schema, so it ships to executors under ``mapInPandas``. Routes
        to the same stdlib parser cores as the batch readers
        (sources/xlsx.read_xlsx_rows, sources/shapefile.parse_shp/
        parse_dbf) — one parse rule, two execution sites."""
        if fmt == "excel":
            def parse(path: str, content: bytes) -> list:
                from nycdb_k8s_loader_spark.sources.readers import (
                    excel_string_rows,
                )

                return excel_string_rows(content, schema, label=path)

            return parse
        if fmt == "shapefile":
            def parse(path: str, content: bytes) -> list:
                import io

                from nycdb_k8s_loader_spark.sources.shapefile import (
                    shapefile_string_rows,
                )

                try:
                    return shapefile_string_rows(io.BytesIO(content), schema)
                except ValueError as e:
                    raise ValueError(f"{path}: {e}") from e

            return parse
        raise ValueError(f"no streaming parser for source format {fmt!r}")

    @staticmethod
    def _commit_pending(store: str, batch_dirs: list[str]) -> None:
        """Move a validated pending increment's parquet files into the
        durable stream store. Files are renamed (same filesystem under
        ``_stream/``) with a ``b<batch>-`` prefix so names stay unique
        and attributable; the emptied batch dir is removed. Plain
        parquet dirs on both sides — no ``_spark_metadata`` log to
        invalidate (see run_available_now_staged)."""
        import shutil

        for bdir in batch_dirs:
            tag = os.path.basename(bdir).replace("batch-", "b")
            for fname in os.listdir(bdir):
                if fname.startswith(("_", ".")):
                    continue  # _SUCCESS markers, hidden CRCs
                os.rename(
                    os.path.join(bdir, fname),
                    os.path.join(store, f"{tag}-{fname}"),
                )
            shutil.rmtree(bdir)

    @staticmethod
    def _quarantine_pending(stream_root: str, batch_dirs: list[str]) -> str:
        """Move a failing pending increment to a fresh
        ``quarantine/<n>/`` under the table's stream root and return
        that path. The checkpoint has already consumed the source
        files, so quarantining (rather than deleting) preserves the
        only remaining copy of the increment for inspection/re-drop."""
        import shutil

        qroot = os.path.join(stream_root, "quarantine")
        os.makedirs(qroot, exist_ok=True)
        # max+1, not len(): an operator deleting older quarantine dirs
        # non-contiguously (rm 0/ keep 1/) must not make the next
        # quarantine collide and mask the original ValidationError
        existing = [
            int(d) for d in os.listdir(qroot) if d.isdigit()
        ]
        qdir = os.path.join(qroot, str(max(existing, default=-1) + 1))
        os.makedirs(qdir)
        for bdir in batch_dirs:
            shutil.move(bdir, os.path.join(qdir, os.path.basename(bdir)))
        return qdir

    def load_all(
        self,
        targets: list[str] | None = None,
        max_parallel: int = 4,
    ) -> list[LoadResult]:
        """Dependency-ordered multi-dataset load (reference O4), with
        independent datasets of each dependency level loaded
        CONCURRENTLY from driver threads (Spark's scheduler interleaves
        their jobs across the executor pool — the standard driver-side
        concurrency pattern for many small independent jobs; one
        dataset's ingest rarely saturates a cluster). Results are
        returned in topo_order regardless of completion order; the
        first failure propagates after its level drains, so no
        dependent level ever starts on a broken prerequisite.
        ``max_parallel=1`` restores strictly sequential loads."""
        results: dict[str, LoadResult] = {}
        for level in self.registry.topo_levels(targets):
            if max_parallel <= 1 or len(level) == 1:
                for n in level:
                    results[n] = self.load(n)
                continue
            with ThreadPoolExecutor(
                max_workers=min(max_parallel, len(level))
            ) as pool:
                futs = {n: pool.submit(self.load, n) for n in level}
                errs = []
                for n, fut in futs.items():
                    try:
                        results[n] = fut.result()
                    except Exception as exc:  # noqa: BLE001 - re-raised
                        errs.append((n, exc))
                if errs:
                    raise errs[0][1]
        return [results[n] for n in self.registry.topo_order(targets)]
