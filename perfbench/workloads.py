"""The benchmark workloads.

- ``etl_lcr``: the reference's job. Dirty lead tables in embedded Derby
  -> JDBC load -> ``sync_table`` into delta_lite RAW -> ``run_pipeline``
  into STG for ``lead``, ``lead_xref`` and ``lead_assignment``; then an
  incremental batch (``incremental_filter`` -> ``merge_rows`` upsert ->
  ``delete_rows`` of the soft-deleted keys) on ``lead``, whose STG table
  has change data feed and deletion vectors enabled (its feed is read
  back with ``read_delta_changes``), and on ``lead_xref``, whose table
  has neither (its files are rewritten, then ``optimize`` and ``vacuum``).
- ``query_mix``: read-only analytics. Four headline queries over a seeded
  multi-file replica of the synthetic star schema, then the LLM-data
  operations over a corpus with planted truth: ``curate_corpus``, exact
  ``cosine_topk`` and approximate ``ivf_topk``.

An operation returns what the output checks need; the checks themselves
run in ``after_pass``, outside the timed region.
"""

from __future__ import annotations

import csv
import math
import os
import shutil
from collections import Counter

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from harness import Pass, Workload


def _write_tables(tables: dict, out: str, files: int) -> None:
    """One parquet file per table, or a directory of ``files`` files for
    tables of 2,000 rows or more, so scans split across cores."""
    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        if files == 1 or t.num_rows < 2_000:
            pq.write_table(t, path)
            continue
        os.makedirs(path, exist_ok=True)
        step = math.ceil(t.num_rows / files)
        for i in range(files):
            pq.write_table(t.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

# Four of bench.py's 23 headline queries, pinned here so the benchmark's
# definition does not move with bench.py. Per-query fixed cost dominates
# at any scale (~1-3 s a query in a fresh session at local[4]), and more
# do not fit the benchmark's time budget next to the ETL workload.
QUERY_MIX = (
    "q1_pricing_summary",  # scan + exact decimal aggregates
    "q5_nation_revenue",  # 5-way snowflake join
    "window_running_analytics",  # lag/lead/rank/running-sum windows
    "pipeline_lead_end_to_end",  # the 101-column conform/cleanse pipeline
)


def _norm(value):
    """Typed cell normalization: NULL, bool and str are tagged so they
    cannot collide with one another or with numbers."""
    if value is None:
        return ("N", "")
    if isinstance(value, bool):
        return ("B", value)
    if isinstance(value, float):
        return ("F", "nan") if math.isnan(value) else ("F", value)
    if isinstance(value, str):
        return ("S", value)
    return ("V", str(value))


def _same(a, b) -> bool:
    """Cell equality; floats agree to 1e-9 relative (Spark and DuckDB may
    sum doubles in another order; the queries' decimal sums are exact)."""
    if a[0] == b[0] == "F" and "nan" not in (a[1], b[1]):
        return abs(a[1] - b[1]) <= 1e-9 * max(1.0, abs(a[1]), abs(b[1]))
    return a == b


def _same_row(x: tuple, y: tuple) -> bool:
    if x == y and list(map(type, x)) == list(map(type, y)):
        return True  # identical values of identical types
    return all(_same(_norm(a), _norm(b)) for a, b in zip(x, y))


def compare_to_oracle(con, sql: str, table) -> str | None:
    """None when the Arrow ``table`` equals the DuckDB oracle's rows
    (order-insensitive), else the reason it does not. Both sides are
    sorted by every column, in name order, inside DuckDB."""
    d_cols = sorted(d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description)
    s_cols = sorted(table.column_names)
    if s_cols != d_cols:
        return f"columns {s_cols} vs {d_cols}"
    cols = ", ".join(f'"{c}"' for c in d_cols)
    d_rows = con.execute(f"SELECT {cols} FROM ({sql}) ORDER BY ALL").fetchall()
    con.register("spark_out", table)
    try:
        s_rows = con.execute(f"SELECT {cols} FROM spark_out ORDER BY ALL").fetchall()
    finally:
        con.unregister("spark_out")
    if len(s_rows) != len(d_rows):
        return f"rowcount {len(s_rows)} vs {len(d_rows)}"
    bad = sum(1 for x, y in zip(s_rows, d_rows) if not _same_row(x, y))
    return f"values differ in {bad}/{len(s_rows)} rows" if bad else None


class QueryMix(Workload):
    name = "query_mix"
    # Input sizes are held down by the time budget of a run (about 70 s
    # at local[4], a cold JVM set-up included). A cold pass is mostly
    # fixed per-job cost: 5x the star-schema scale or the ETL rows added
    # only 6-7% to it (28.3 -> 30.1 s and 31.2 -> 33.4 s).
    SF = 0.1
    FILES = 4
    DOCS = 1500
    VECS = 1_500
    QUERIES = 16
    K = 10
    NEAR_DUP = {"num_hashes": 16, "bands": 8, "threshold": 0.5}
    RECALL_FLOOR = {"dedup": 0.95, "topk": 0.5}

    def generate(self) -> None:
        data = os.path.join(self.work, "data")
        self.full = os.path.join(data, "full")
        self.corpus_dir = os.path.join(data, "corpus")
        rng = np.random.default_rng(self.seed)
        _write_tables(gen.tpch_tables(rng, self.SF), self.full, self.FILES)
        docs, emb, queries, self.truth = gen.corpus(rng, self.DOCS, self.VECS, self.QUERIES, self.K)
        _write_tables({"documents": docs}, self.corpus_dir, 1)
        _write_tables({"embeddings": emb, "queries": queries}, self.corpus_dir, self.FILES)
        self.quality: dict[str, float] = {}

    def run_pass(self, p: Pass) -> None:
        from lcr_etl_upgrade_spark.operators.curation import curate_corpus
        from lcr_etl_upgrade_spark.operators.similarity import cosine_topk, ivf_topk
        from lcr_etl_upgrade_spark.plans import QUERIES

        spark = p.spark
        for name in QUERY_MIX:
            def query(name=name):
                with p.layer_span("plans.build"):
                    df = QUERIES[name](spark, self.full)
                with p.layer_span("spark.execute"):
                    return df.toArrow()

            p.outputs[name] = p.op(name, query)
            spark.catalog.clearCache()

        docs = spark.read.parquet(os.path.join(self.corpus_dir, "documents.parquet"))

        def curate():
            obs: dict = {}
            with p.layer_span("curation.call"):
                out = curate_corpus(
                    docs, near_dup_kwargs=self.NEAR_DUP,
                    chunk_tokens=gen.CHUNK_TOKENS, pack_budget=gen.PACK_BUDGET,
                    pack_shards=gen.PACK_SHARDS, observations=obs,
                )
            with p.layer_span("curation.exec"):
                packed = out.select(
                    "doc_id", "chunk_id", "n_tokens", "pack_group", "bin_id", "bin_offset"
                ).toArrow()
            # the observations fill on the action above
            return packed, {k: int(v.get["rows"]) for k, v in obs.items()}

        p.outputs["curate_corpus"] = p.op("curate_corpus", curate)
        spark.catalog.clearCache()

        emb = spark.read.parquet(os.path.join(self.corpus_dir, "embeddings.parquet"))
        queries = spark.read.parquet(os.path.join(self.corpus_dir, "queries.parquet"))
        for name, fn, span in (
            ("cosine_topk", cosine_topk, "similarity.topk_exact"),
            ("ivf_topk", ivf_topk, "similarity.topk_ivf"),
        ):
            def topk(fn=fn, span=span):
                with p.layer_span(span):
                    return fn(emb, queries, k=self.K).select("query_id", "vec_id").toArrow()

            p.outputs[name] = p.op(name, topk)

    def after_pass(self, p: Pass) -> None:
        _, survivors = p.outputs.get("curate_corpus") or (None, {})
        for k, v in survivors.items():
            p.count(f"curation.survivors.{k}", v)
        if p.check_outputs:
            self._check_queries(p)
            self._check_curation(p)
            self._check_topk(p)

    def _check_queries(self, p: Pass) -> None:
        import duckdb

        from lcr_etl_upgrade_spark.plans import ORACLES

        with duckdb.connect() as con:
            for f in sorted(os.listdir(self.full)):
                path = os.path.join(self.full, f)
                src = f"{path}/*.parquet" if os.path.isdir(path) else path
                con.execute(
                    f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM read_parquet('{src}')"
                )
            for name in QUERY_MIX:
                table = p.outputs.get(name)
                if table is None:
                    continue  # the operation raised; already a failure
                if name in ORACLES:
                    why = compare_to_oracle(con, ORACLES[name], table)
                else:
                    why = None if table.num_rows else "zero rows"
                p.check(name, why is None, why or "")

    def _check_curation(self, p: Pass) -> None:
        if p.outputs.get("curate_corpus") is None:
            return
        packed, survivors = p.outputs["curate_corpus"]
        truth = self.truth
        want = {
            "gopher": truth.gopher_pass, "exact": truth.exact_survivors,
            "chunk": truth.chunk_rows, "pack": truth.chunk_rows,
        }
        got = {k: survivors.get(k) for k in want}
        p.check("curate_corpus.stages", got == want, f"survivors {got} want {want}")
        # near-dup stage: a planted pair is caught when not both survive;
        # nothing but planted copies may go
        alive = set(packed.column("doc_id").to_pylist())
        caught = sum(1 for a, b in truth.near_pairs if not (a in alive and b in alive))
        recall = caught / max(len(truth.near_pairs), 1)
        self.quality["curation.dedup_recall"] = recall
        p.check("curate_corpus.recall", recall >= self.RECALL_FLOOR["dedup"], f"{recall:.3f}")
        p.check("curate_corpus.precision", survivors.get("near_dup", 0) >= truth.near_dup_survivors,
                f"near_dup survivors {survivors.get('near_dup')} < {truth.near_dup_survivors}")
        # packing lays each group's chunks end to end in (doc_id,
        # chunk_id) order and cuts a bin every PACK_BUDGET tokens
        offsets: dict = {}
        bad = 0
        for r in sorted(packed.to_pylist(), key=lambda r: (r["doc_id"], r["chunk_id"])):
            off = offsets.get(r["pack_group"], 0)
            bad += r["bin_offset"] != off or r["bin_id"] != off // gen.PACK_BUDGET
            offsets[r["pack_group"]] = off + r["n_tokens"]
        p.check("curate_corpus.pack", bad == 0, f"{bad} chunks packed at the wrong offset")

    def _check_topk(self, p: Pass) -> None:
        want = {q: set(ids) for q, ids in self.truth.topk_ids.items()}
        exact, approx = p.outputs.get("cosine_topk"), p.outputs.get("ivf_topk")
        if exact is not None:
            got: dict = {}
            for q, v in zip(exact.column("query_id").to_pylist(), exact.column("vec_id").to_pylist()):
                got.setdefault(q, set()).add(v)
            p.check("cosine_topk", got == want, "exact top-k differs from numpy's")
        if approx is not None:
            pairs = zip(approx.column("query_id").to_pylist(), approx.column("vec_id").to_pylist())
            recall = sum(v in want[q] for q, v in pairs) / (self.K * len(want))
            self.quality["similarity.topk_recall"] = recall
            p.check("ivf_topk", recall >= self.RECALL_FLOOR["topk"], f"recall@k {recall:.3f}")

    def extras(self) -> dict:
        return dict(self.quality)


# ---------------------------------------------------------------------------
# etl_lcr
# ---------------------------------------------------------------------------

DERBY = "org.apache.derby.jdbc.EmbeddedDriver"


def _log_actions(table: str) -> list[tuple[int, dict]]:
    """(version, action) for every action in the table's JSON commits."""
    import json

    log = os.path.join(table, "_delta_log")
    out = []
    for f in sorted(os.listdir(log)):
        if f.endswith(".json") and f[:20].isdigit():
            with open(os.path.join(log, f)) as fh:
                out.extend((int(f[:20]), json.loads(line)) for line in fh if line.strip())
    return out


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class EtlLcr(Workload):
    name = "etl_lcr"
    ROWS = 3000  # per table; sized like QueryMix's inputs, for the same reason
    # the STG table with change data feed and deletion vectors; the other
    # table with a change set (lead_xref) takes the file-rewrite path
    CDF_TABLE = "lead"

    def generate(self) -> None:
        self.data = os.path.join(self.work, "data")
        os.makedirs(self.data, exist_ok=True)
        rng = np.random.default_rng(self.seed)
        self.tables = gen.lead_tables(rng, self.ROWS)
        self.url = f"jdbc:derby:{os.path.join(self.work, 'derby', 'lcr')};create=true"
        self.source_bytes = 0
        self.columns: dict[str, list[str]] = {}
        files = {}
        for t in self.tables:
            files[f"{t.name}_src"] = t.base
            if t.changes is not None:
                files[f"{t.name}_cdc"] = t.changes
        for name, tbl in files.items():
            # CSV for Derby's bulk import: strings quoted (so "" stays an
            # empty string), NULL as an empty unquoted field
            with open(os.path.join(self.data, f"{name}.csv"), "w", newline="") as fh:
                csv.writer(fh, quoting=csv.QUOTE_NONNUMERIC).writerows(
                    zip(*(c.to_pylist() for c in tbl.columns))
                )
            self.columns[name] = tbl.column_names
            self.source_bytes += sum(pc.sum(pc.binary_length(c)).as_py() or 0 for c in tbl.columns)
        self.delta = os.path.join(self.work, "delta")
        self.write_amp = 0.0

    def prepare(self, spark) -> None:
        """Create every generated table in embedded Derby, one VARCHAR
        column per source column, and bulk-import its CSV (input
        generation, untimed)."""
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(DERBY)
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            for name, cols in self.columns.items():
                ddl = ", ".join(f'"{c}" VARCHAR(512)' for c in cols)
                conn.createStatement().executeUpdate(f"CREATE TABLE {name} ({ddl})")
                call = conn.prepareCall(
                    "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, ?, ?, ',', '\"', 'UTF-8', 0)"
                )
                call.setString(1, name.upper())
                call.setString(2, os.path.join(self.data, f"{name}.csv"))
                call.execute()
        finally:
            conn.close()
        # shut the database down, so every pass boots it in its own JVM
        try:
            jvm.java.sql.DriverManager.getConnection(self.url.replace(";create=true", ";shutdown=true"))
        except Exception:  # noqa: BLE001 — Derby reports a clean shutdown as an SQLException
            pass

    def before_pass(self) -> None:
        shutil.rmtree(self.delta, ignore_errors=True)

    def run_pass(self, p: Pass) -> None:
        from pyspark.sql import functions as F

        from lcr_etl_upgrade_spark import delta_lite as dl
        from lcr_etl_upgrade_spark.operators.incremental import incremental_filter
        from lcr_etl_upgrade_spark.pipeline import run_pipeline, transform_table
        from lcr_etl_upgrade_spark.schemas import TABLE_SPECS
        from lcr_etl_upgrade_spark.sources.registry import JdbcSource
        from lcr_etl_upgrade_spark.sync import sync_table

        spark = p.spark
        props = {"driver": DERBY}

        def writer(path):
            def sink(df):
                with p.layer_span("delta_lite.write"):
                    dl.write_delta_lite(df, path)
            return sink

        def reader(path):
            with p.layer_span("delta_lite.read"):
                return dl.read_delta_lite(spark, path)

        # full load: JDBC -> RAW (3-way reconciled) -> STG, per table
        for t in self.tables:
            raw = os.path.join(self.delta, "raw", t.name)
            stg = os.path.join(self.delta, "stg", t.name)
            src = JdbcSource(url=self.url, table=f"{t.name}_src", properties=props)

            def load(src=src):
                with p.layer_span("sources.jdbc_load"):
                    return src.load(spark), src.count_pushdown(spark)

            df, n_src = p.op(f"{t.name}.load", load) or (None, None)

            def sync(t=t, df=df, n_src=n_src, raw=raw):
                with p.layer_span("sync.table"):
                    return sync_table(
                        df, t.name, writer(raw), verify_reader=lambda: reader(raw),
                        source_count=n_src, as_of=gen.AS_OF,
                    )

            res = p.op(f"{t.name}.sync", sync)
            if res is not None:
                p.count("sync.reconciled", res.reconciliation == "3-way")
                p.check(f"{t.name}.sync",
                        res.reconciliation == "3-way" and res.written_count == t.base.num_rows,
                        f"{res.reconciliation} written={res.written_count} want={t.base.num_rows}")

            def pipeline(t=t, raw=raw, stg=stg):
                frame = reader(raw)
                with p.layer_span("pipeline.run"):
                    return run_pipeline(spark, frame, TABLE_SPECS[t.name], writer(stg),
                                        as_of=gen.AS_OF, fuzzy=False)

            out = p.op(f"{t.name}.pipeline", pipeline)
            if out is not None:
                p.count("pipeline.rows_out", out.rows_out)
                p.check(f"{t.name}.pipeline", out.rows_out == t.base.num_rows,
                        f"rows_out={out.rows_out} want={t.base.num_rows}")

        # change data feed + deletion vectors on one STG table only
        p.op(f"{self.CDF_TABLE}.properties", lambda: dl.set_table_properties(
            spark, os.path.join(self.delta, "stg", self.CDF_TABLE),
            {"delta.enableChangeDataFeed": "true", "delta.enableDeletionVectors": "true"},
        ))

        # incremental batch: upsert the fresh changes, delete the soft-deleted
        for t in self.tables:
            if t.changes is None:
                continue
            spec = TABLE_SPECS[t.name]
            stg = os.path.join(self.delta, "stg", t.name)
            key = t.target_key
            cdc = JdbcSource(url=self.url, table=f"{t.name}_cdc", properties=props)

            def incremental(cdc=cdc, spec=spec, key=key):
                with p.layer_span("sources.jdbc_load"):
                    raw = cdc.load(spark)
                conformed = transform_table(raw, spec, as_of=gen.AS_OF, fuzzy=False)
                batch = incremental_filter(conformed, gen.WATERMARK).localCheckpoint()
                soft = F.col("IS_DELETED_SOURCE") == F.lit("TRUE")
                deleted = [r[0] for r in batch.filter(soft).select(key).collect()]
                return batch.filter(~F.coalesce(soft, F.lit(False))), deleted

            upserts, deleted = p.op(f"{t.name}.incremental", incremental) or (None, [])
            p.outputs[f"{t.name}.deleted"] = deleted
            p.outputs[f"{t.name}.start"] = start = dl.latest_version(stg) + 1
            assign = {f.name: f"s.{f.name}" for f in spec.target_schema.fields}

            def merge(stg=stg, upserts=upserts, key=key, assign=assign):
                with p.layer_span("delta_lite.merge"):
                    return dl.merge_rows(
                        spark, stg, upserts, f"t.{key} = s.{key}",
                        matched=(("update", None, assign),),
                        not_matched=(("insert", None, assign),),
                    )

            def delete(stg=stg, key=key, deleted=deleted):
                with p.layer_span("delta_lite.delete"):
                    return dl.delete_rows(spark, stg, F.col(key).isin(deleted))

            p.op(f"{t.name}.merge", merge)
            p.op(f"{t.name}.delete", delete)
            if t.name == self.CDF_TABLE:
                # the change-data-feed table: read the batch's feed back
                def changes(stg=stg, start=start):
                    with p.layer_span("delta_lite.changes"):
                        return dl.read_delta_changes(spark, stg, start).drop(
                            "_commit_version", "_commit_timestamp"
                        ).collect()

                p.outputs["feed"] = p.op(f"{t.name}.changes", changes)
            else:
                # the file-rewrite table: compact, then reclaim
                def optimize(stg=stg):
                    with p.layer_span("delta_lite.optimize"):
                        return dl.optimize(spark, stg)

                def vacuum(stg=stg):
                    with p.layer_span("delta_lite.vacuum"):
                        return dl.vacuum(spark, stg)

                p.op(f"{t.name}.optimize", optimize)
                p.op(f"{t.name}.vacuum", vacuum)

    def after_pass(self, p: Pass) -> None:
        self._count_log(p)
        if not p.check_outputs:
            return
        for t in self.tables:
            if t.changes is None:
                continue
            deleted = p.outputs.get(f"{t.name}.deleted")
            p.check(f"{t.name}.incremental", set(deleted or ()) == t.deleted,
                    f"soft-deleted keys {len(deleted or ())} want {len(t.deleted)}")
            self._check_final(p, t)
        if p.outputs.get("feed") is not None:
            cdf = next(t for t in self.tables if t.name == self.CDF_TABLE)
            self._check_feed(p, cdf, p.outputs["feed"])

    @staticmethod
    def _check_feed(p: Pass, t, feed) -> None:
        """Net change per key: identical delete/insert row pairs cancel;
        what remains must be exactly the generator's inserted, updated
        and deleted keys."""
        net: Counter = Counter()
        for r in feed:
            d = r.asDict()
            sign = 1 if d.pop("_change_type") in ("insert", "update_postimage") else -1
            net[tuple(sorted(d.items()))] += sign
        plus = {dict(row)[t.target_key] for row, n in net.items() if n > 0}
        minus = {dict(row)[t.target_key] for row, n in net.items() if n < 0}
        p.check(f"{t.name}.changes",
                plus == t.inserted | t.updated and minus == t.deleted | t.updated,
                f"net inserts {len(plus)} want {len(t.inserted | t.updated)}, "
                f"net deletes {len(minus)} want {len(t.deleted | t.updated)}")

    def _check_final(self, p: Pass, t) -> None:
        """STG after the batch: base keys minus deleted plus inserted,
        and exactly the updated and inserted rows modified after the
        watermark."""
        import datetime as dt

        from lcr_etl_upgrade_spark.delta_lite import read_delta_lite

        stg = os.path.join(self.delta, "stg", t.name)
        rows = read_delta_lite(p.spark, stg).select(t.target_key, "MODIFY_DATE").collect()
        keys = [r[0] for r in rows]
        want = (set(t.base.column(t.key).to_pylist()) - t.deleted) | t.inserted
        wm = dt.datetime.fromisoformat(gen.WATERMARK)
        fresh = {r[0] for r in rows if r[1] is not None and r[1] > wm}
        p.check(f"{t.name}.final",
                len(keys) == len(set(keys)) and set(keys) == want and fresh == t.updated | t.inserted,
                f"rows {len(keys)} want {len(want)}, fresh {len(fresh)} "
                f"want {len(t.updated | t.inserted)}")

    def _count_log(self, p: Pass) -> None:
        """Log-level counters for the pass's tables from ``_delta_log``.
        ``rewrite_ratio``: rows in the data files the merge and delete
        commits wrote, over the rows the batch changed."""
        import json

        counts = Counter()
        rewritten = 0
        for zone in ("raw", "stg"):
            zone_dir = os.path.join(self.delta, zone)
            for name in sorted(os.listdir(zone_dir)) if os.path.isdir(zone_dir) else ():
                start = p.outputs.get(f"{name}.start") if zone == "stg" else None
                seen: set[str] = set()
                versions = set()
                for v, a in _log_actions(os.path.join(zone_dir, name)):
                    versions.add(v)
                    if "remove" in a:
                        counts["files_removed"] += 1
                    if "add" not in a:
                        continue
                    add = a["add"]
                    counts["files_added"] += 1
                    counts["bytes_added"] += int(add.get("size", 0))
                    counts["dv_files"] += add.get("deletionVector") is not None
                    dml = start is not None and v in (start, start + 1)
                    if dml and add["path"] not in seen and add.get("stats"):
                        rewritten += json.loads(add["stats"])["numRecords"]
                    seen.add(add["path"])
                counts["commits"] += len(versions)
        changed = sum(len(t.updated | t.inserted | t.deleted) for t in self.tables)
        for k, v in counts.items():
            p.count(f"delta_lite.{k}", v)
        p.count("delta_lite.rewrite_ratio", rewritten / max(changed, 1))
        if p.check_outputs:
            self.write_amp = _du(self.delta) / max(self.source_bytes, 1)

    def extras(self) -> dict:
        return {"delta_lite.write_amp": self.write_amp}


WORKLOADS = {w.name: w for w in (EtlLcr, QueryMix)}


def make(name: str, root: str, work: str, seed: int) -> Workload:
    return WORKLOADS[name](root, work, seed)
