"""The benchmark's workloads. Each one drives the package's public API in
a closed loop (one client, one SparkSession) and records one span per
call it makes into a layer of the program.

A workload has three parts: ``prepare`` makes its seeded inputs (outside
every timer), ``build_state`` is the part of set-up that the workload
needs beyond the session (the ingest IVF-PQ index), and ``run_pass``
runs the workload's operations once and returns the pass record. An
operation is a query, a streaming epoch, or an ETL step; every pass
record lists its operations with their wall time and whether their
result was correct. ``check_pass`` verifies results outside the timers.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from decimal import Decimal
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

WORK_DIR = ".perfbench"
TINY_SF = 0.001

# (data scale, queries). A run, warm passes included, must stay near one
# minute on four cores, so each set is a fixed sample of its plan family.
# README.md gives each query's share of its family's wall, from the
# measured profiles in profiles/<family>.json (family_profile.py).
QUERY_SETS: dict[str, tuple[float, list[str]]] = {
    "relational": (0.1, [
        "q01_pricing_summary", "q04_monthly_revenue",
        "q14_range_join_ship_lag", "q34_asof_join", "q43_approx_aggregates",
        "q52_session_windows", "q77_event_funnel", "q89_dq_audit"]),
    "corpus": (0.1, ["q31_minhash_lsh_dedup", "q39_curation_keep_canonical"]),
}

MUNICIPIOS = ["aracaju", "barra dos coqueiros", "pirambu", "estancia",
              "itaporanga d'ajuda", "japaratuba", "carmopolis", "rosario do catete",
              "siriri", "divina pastora", "laranjeiras", "riachuelo",
              "maruim", "santo amaro das brotas", "pacatuba", "brejo grande"]


def configure_env(root: Path) -> Path:
    """Environment for the program under test, set before the JVM starts:
    the package's own defaults (every ``SPARK_GRAFT_*`` override removed,
    cores = nproc), the checkout on the Python workers' import path, and
    every scratch directory the program lets a caller place, the
    trained-quantizer store included, inside ``<root>/.perfbench``."""
    work = root / WORK_DIR
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fresh trained-quantizer store per run, so every run trains its
    # IVF/PQ constants once (in its first warm pass, inside setup_s)
    # instead of only the first run in a checkout
    artifacts = work / "artifacts"
    shutil.rmtree(artifacts, ignore_errors=True)
    os.environ["SPARK_GRAFT_ARTIFACTS"] = str(artifacts)
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def ensure_data(work: Path, sf: float) -> Path:
    """Generated tables for scale ``sf`` (built once per checkout)."""
    import datagen

    out = work / "data" / f"sf{sf}"
    marker = out / "_generated"
    stamp = f"{sf} {datagen.DATA_SEED}"
    if not (marker.exists() and marker.read_text() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        datagen.generate(str(out), sf)
        marker.write_text(stamp)
    return out


def _op(name: str, kind: str, span: dict | None = None) -> dict:
    return {"name": name, "kind": kind, "wall": 0.0, "ok": True, "err": None,
            "rows": 0, "bytes": 0, "span": span["id"] if span else None}


def _fail(op: dict, exc: BaseException | str) -> None:
    op["ok"] = False
    op["err"] = exc if isinstance(exc, str) else f"{type(exc).__name__}: {exc}"


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


class Workload:
    name = ""
    tables: tuple[str, ...] = ()
    sf: float | None = None
    # untimed passes before the window, paying JIT, code generation,
    # Python worker start and the program's own on-disk caches
    warm_passes = 1
    # the operation kinds op_geomean_s and op_p50_s cover
    op_kinds: tuple[str, ...] = ("query",)

    def __init__(self, bench) -> None:
        self.b = bench
        self.data_dir: Path | None = None

    def prepare(self) -> None:
        if self.sf is not None:
            self.data_dir = ensure_data(self.b.work,
                                        TINY_SF if self.b.tiny else self.sf)

    def build_state(self, spark) -> None:
        pass

    def job_group(self, spark, label: str) -> None:
        if self.b.traced:
            spark.sparkContext.setJobGroup(
                f"{self.b.spans.run_id}:{label}", label)

    def run_pass(self, spark, idx: int, deadline: float | None = None) -> dict:
        """One pass. Only the query workloads stop a pass early, between
        queries, once ``deadline`` (a ``time.perf_counter()`` value) has
        passed; the other workloads' passes are indivisible."""
        raise NotImplementedError

    def pass_count(self, passes: list[dict]) -> float:
        return float(len(passes))

    def pass_wall(self, passes: list[dict]) -> float:
        return statistics.median(p["wall"] for p in passes)

    def check_pass(self, spark, rec: dict) -> None:
        pass

    def rows_per_s(self, passes: list[dict]) -> float:
        raise NotImplementedError


class QueryWorkload(Workload):
    """A fixed query set. The seed shuffles the query order of the untimed
    passes; measured passes run in sorted-name order, because the order
    moves per-query walls (q31 ran ~1.5 s slower after q39 than before
    it), and a seed-dependent order would put that into the spread across
    seeds.
    Each result goes to the driver through ``toArrow()``; the harness's
    ``release_all`` + ``reclaim_disk`` runs after every query."""

    def __init__(self, bench, name: str) -> None:
        super().__init__(bench)
        from etl_transparencia_sergipe_spark.plans import registry

        self.name = name
        self.sf, self.names = QUERY_SETS[name]
        registry.queries()
        self.defs = {n: registry.REGISTRY[n] for n in self.names}
        self.tables = self._tables()
        self._con = None

    def _tables(self) -> tuple[str, ...]:
        from etl_transparencia_sergipe_spark.sources.catalog import TABLES

        if self.name == "corpus":
            return ("documents", "embeddings")
        return tuple(t for t in TABLES if t not in ("documents", "embeddings"))

    def run_pass(self, spark, idx: int, deadline: float | None = None) -> dict:
        from etl_transparencia_sergipe_spark.caching import (
            persistent_rdd_ids,
            reclaim_disk,
            release_all,
        )

        order = sorted(self.names)
        if idx < 0:  # an untimed pass
            random.Random(f"{self.b.seed}:{idx}").shuffle(order)
        ops, results = [], []
        spans = self.b.spans
        with spans.span(f"pass {idx}", "bench") as ps:
            for name in order:
                if deadline is not None and time.perf_counter() >= deadline:
                    break
                with spans.span(name, "bench", kind="query") as qs:
                    self.job_group(spark, f"{idx}:{name}")
                    op = _op(name, "query", qs)
                    table = schema = None
                    try:
                        with spans.span("build", "plans") as bs:
                            df = self.defs[name].build(spark,
                                                       str(self.data_dir))
                        with spans.span("exec", "plans") as es:
                            table = df.toArrow()
                        schema = df.schema
                        op["build_s"], op["exec_s"] = _dur(bs), _dur(es)
                        op["build_span"] = bs["id"]
                        op["wall"] = op["build_s"] + op["exec_s"]
                        op["rows"], op["bytes"] = table.num_rows, table.nbytes
                    except Exception as exc:  # noqa: BLE001 — counted, run goes on
                        _fail(op, exc)
                    if self.b.traced:
                        op["persisted_at_release"] = len(persistent_rdd_ids(spark))
                    with spans.span("release", "caching") as rs:
                        release_all(spark)
                        reclaim_disk(spark, floor_free_gib=1.0, min_passes=1)
                    op["release_s"] = _dur(rs)
                ops.append(op)
                results.append((op, table, schema))
        return {"idx": idx, "span": ps["id"], "ops": ops,
                "wall": sum(o["wall"] + o["release_s"] for o in ops),
                "_results": results}

    def check_pass(self, spark, rec: dict) -> None:
        import expected

        tz = spark.conf.get("spark.sql.session.timeZone")
        entries = self.b.expected.get(self.name, {}).get(
            str(TINY_SF if self.b.tiny else self.sf), {})
        for op, table, schema in rec.pop("_results"):
            if not op["ok"]:
                continue
            pdf = expected.arrow_to_pandas(table, schema, tz)
            err = expected.check(entries.get(op["name"]), pdf,
                                 self.defs[op["name"]].bound_check,
                                 self._duck)
            if err:
                _fail(op, err)

    def _duck(self):
        import expected

        if self._con is None:
            self._con = expected.duck_views(self.data_dir)
        return self._con

    def pass_count(self, passes: list[dict]) -> float:
        return sum(len(p["ops"]) for p in passes) / len(self.names)

    def pass_wall(self, passes: list[dict]) -> float:
        """One full pass: the sum over the query set of each query's
        median build + materialize + release wall (a window may end
        between queries, so its last pass can be partial). Failed
        queries are left out, as in the other operation metrics."""
        walls: dict[str, list[float]] = {}
        for p in passes:
            for o in p["ops"]:
                if o["ok"]:
                    walls.setdefault(o["name"], []).append(
                        o["wall"] + o["release_s"])
        return sum(statistics.median(w) for w in walls.values())

    def rows_per_s(self, passes: list[dict]) -> float:
        ops = [o for p in passes for o in p["ops"] if o["ok"]]
        wall = sum(o["wall"] for o in ops)
        return sum(o["rows"] for o in ops) / wall if wall else 0.0


class IngestWorkload(Workload):
    """The write paths, once each per pass. One ``availableNow`` drain,
    one file per trigger, of assign-only vector ingestion: the second
    half of the embeddings into an index trained on the first half
    (run_ann_ingest's sink). Then one small run of the paper's pipeline
    (``royalties_pipeline`` → ``write_partitioned`` → the yearly
    ``consolidated_view``). The seed assigns rows to micro-batches and
    picks the pipeline's grid. The sink is wrapped only to time each
    epoch from foreachBatch entry to return."""

    name = "ingest"
    tables = ("embeddings",)
    sf = 0.01
    EPOCHS = 2
    # the pipeline step's small jobs slowed by up to 2.7x when other
    # tenants loaded the box, against ~1.3x for the epochs, which put the
    # spread of pass_s across seeds over its bound; so pass_s and the
    # operation metrics cover the drain, and the step's cost enters
    # setup_s (through the warm pass), its correctness ok_frac and its
    # walls the pipelines.* layer metrics
    op_kinds = ("epoch",)

    def __init__(self, bench) -> None:
        super().__init__(bench)
        self.etl = RoyaltiesWorkload(bench, grid=(1, 1, 3),
                                     root="ingest_royalties")

    def prepare(self) -> None:
        super().prepare()
        self.etl.prepare()
        self.per_epoch = 10 if self.b.tiny else 20
        rng = np.random.default_rng(self.b.seed)
        emb = pq.read_table(self.data_dir / "embeddings.parquet")
        half = emb.num_rows // 2
        new_emb = emb.slice(half)
        self.streams = {
            "ann": new_emb.take(rng.permutation(new_emb.num_rows)),
        }
        self.root = self.b.work / "ingest"
        shutil.rmtree(self.root, ignore_errors=True)
        self.root.mkdir(parents=True)
        pq.write_table(emb.slice(0, half), self.root / "emb_base.parquet")

    def build_state(self, spark) -> None:
        from etl_transparencia_sergipe_spark.operators.ann_index import (
            build_ivfpq_index,
        )

        with self.b.spans.span("ann index", "streaming"):
            build_ivfpq_index(
                spark.read.parquet(str(self.root / "emb_base.parquet")),
                str(self.root / "index_base"), base_epoch=-1)

    def _batches(self, sink: str, idx: int) -> list[pa.Table]:
        tbl, n, e = self.streams[sink], self.per_epoch, self.EPOCHS
        start = (idx * n * e) % tbl.num_rows
        rows = [(start + i) % tbl.num_rows for i in range(n * e)]
        return [tbl.take(rows[j * n:(j + 1) * n]) for j in range(e)]

    def run_pass(self, spark, idx: int, deadline: float | None = None) -> dict:
        from etl_transparencia_sergipe_spark.streaming.ann_stream import (
            ann_ingest_sink,
            embeddings_stream,
        )

        d = self.root / f"pass{idx}"
        shutil.rmtree(d, ignore_errors=True)
        batches = {}
        for sink in self.streams:
            batches[sink] = self._batches(sink, idx)
            (d / f"in_{sink}").mkdir(parents=True)
            for j, t in enumerate(batches[sink]):
                pq.write_table(t, d / f"in_{sink}" / f"b{j:03d}.parquet")
        shutil.copytree(self.root / "index_base", d / "index")
        outputs = [d / "index", d / "drift"]
        before = _tree_stats(outputs)
        plan = [
            ("ann", embeddings_stream,
             ann_ingest_sink(str(d / "index"), str(d / "drift"))),
        ]
        ops, wall = [], 0.0
        with self.b.spans.span(f"pass {idx}", "bench") as ps:
            for sink, stream_fn, sink_fn in plan:
                drain_ops, drain_s = self._drain(
                    spark, idx, sink, stream_fn, sink_fn, d / f"in_{sink}",
                    d / f"ckpt_{sink}", batches[sink])
                ops += drain_ops
                wall += drain_s
            etl = self.etl.run_steps(spark, idx)
        after = _tree_stats(outputs)
        return {**etl, "idx": idx, "span": ps["id"], "dir": d,
                "ops": ops + etl["ops"], "wall": wall, "batches": batches,
                "files_written": after[0] - before[0],
                "bytes_written": after[1] - before[1],
                "in_bytes": sum(f.stat().st_size for s in self.streams
                                for f in (d / f"in_{s}").iterdir())}

    def _drain(self, spark, idx, sink, stream_fn, sink_fn, in_dir, ckpt,
               batches):
        spans = self.b.spans
        epochs: list[tuple[int, float, float]] = []

        def timed_sink(batch_df, epoch_id):
            t0 = time.time()
            try:
                if self.b.traced:
                    batch_df.sparkSession.sparkContext.setJobGroup(
                        f"{spans.run_id}:{idx}:{sink}:{epoch_id}",
                        f"{sink} epoch {epoch_id}")
                sink_fn(batch_df, epoch_id)
            finally:
                epochs.append((int(epoch_id), t0, time.time()))

        ops = []
        with spans.span(f"{sink} drain", "streaming", sink=sink) as dspan:
            try:
                q = (stream_fn(spark, str(in_dir)).writeStream
                     .foreachBatch(timed_sink)
                     .option("checkpointLocation", str(ckpt))
                     .trigger(availableNow=True).start())
                q.awaitTermination()
                err = None
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                err = exc
        for e, t0, t1 in epochs:
            sid = spans.add(f"{sink} epoch {e}", "streaming", t0, t1,
                            dspan["id"], kind="epoch", sink=sink)
            op = _op(f"{sink}:{e}", "epoch")
            op.update(span=sid, wall=t1 - t0, sink=sink, epoch=e,
                      rows=batches[e].num_rows if e < len(batches) else 0)
            ops.append(op)
        if err is not None or len(ops) != self.EPOCHS:
            for _ in range(max(1, self.EPOCHS - len(ops))):
                op = _op(f"{sink}:failed", "epoch")
                _fail(op, err or f"{len(ops)} epochs ran, {self.EPOCHS} expected")
                ops.append(op)
        return ops, _dur(dspan)

    def check_pass(self, spark, rec: dict) -> None:
        """Every appended vector sits in the cell of its nearest stored
        centroid (assign-only append == full re-encode), and the
        pipeline's yearly reads match DuckDB."""
        from etl_transparencia_sergipe_spark.operators.ann_index import (
            _load_quantizer,
        )

        d = rec["dir"]
        by_key = {(o.get("sink"), o.get("epoch")): o for o in rec["ops"]}
        cmat, _, _ = _load_quantizer(str(d / "index"))
        for e, batch in enumerate(rec["batches"]["ann"]):
            op = by_key.get(("ann", e))
            if not (op and op["ok"]):
                continue
            got = _read(d / "index", f"ingest_batch={e}")
            cell = dict(zip(got["vec_id"].to_pylist(), got["cell"].to_pylist()))
            ids = batch["vec_id"].to_pylist()
            vecs = np.array(batch["embedding"].to_pylist(), dtype=np.float64)
            want = nearest_cell(vecs, cmat)
            if sorted(cell) != sorted(ids) or any(
                    cell[i] != int(w) for i, w in zip(ids, want)):
                _fail(op, "appended vector not in its nearest centroid's cell")
        shutil.rmtree(d, ignore_errors=True)
        self.etl.check_steps(rec)

    def rows_per_s(self, passes: list[dict]) -> float:
        """Rows of the correct epochs ÷ their summed wall. The pipeline
        step is left out (its row count depends on the seeded grid), and
        so is the drain's start and stop, which pass_s carries."""
        epochs = [o for p in passes for o in p["ops"]
                  if o["ok"] and o["kind"] == "epoch"]
        wall = sum(o["wall"] for o in epochs)
        return sum(o["rows"] for o in epochs) / wall if wall else 0.0


class RoyaltiesWorkload(Workload):
    """The paper's pipeline: ``royalties_pipeline`` over a seeded
    (cidade, ano, mes) grid with the synthetic fetcher, then
    ``write_partitioned``, then ``consolidated_view(ano).toArrow()`` for
    every year of the grid. ``grid`` is (cities, years, months); the
    ``ingest`` workload runs the same steps on a smaller grid."""

    name = "royalties_etl"
    op_kinds = ("read",)

    def __init__(self, bench, grid: tuple[int, int, int] = (1, 2, 12),
                 root: str = "royalties") -> None:
        super().__init__(bench)
        self.size = (1, 1, 3) if bench.tiny else grid
        self.root_name = root

    def prepare(self) -> None:
        rng = random.Random(self.b.seed)
        n_cities, n_years, n_months = self.size
        cidades = sorted(rng.sample(MUNICIPIOS, n_cities))
        first = rng.randint(2010, 2020)
        self.grid = (tuple(cidades), tuple(range(first, first + n_years)),
                     tuple(range(1, n_months + 1)))
        self.root = self.b.work / self.root_name
        shutil.rmtree(self.root, ignore_errors=True)
        self.root.mkdir(parents=True)
        self.expect = self._expected_by_year()

    def _expected_by_year(self) -> dict[int, tuple[int, Decimal]]:
        """Yearly row count and pago_dec sum recomputed in DuckDB from the
        same synthetic pages, with the program's SQL twins of the royalty
        term filter and the pt-BR money parser."""
        import duckdb
        import pandas as pd

        from etl_transparencia_sergipe_spark.functions.money import (
            parse_ptbr_money_sql,
        )
        from etl_transparencia_sergipe_spark.functions.normalize import (
            term_filter_sql,
        )
        from etl_transparencia_sergipe_spark.sources.scraper_source import (
            synthetic_fetch,
        )

        cidades, anos, meses = self.grid
        grid = pd.DataFrame([(c, a, m) for c in cidades
                             for a in anos for m in meses],
                            columns=["cidade", "ano", "mes"])
        con = duckdb.connect()
        try:
            con.register("raw", synthetic_fetch(grid))
            rows = con.execute(
                f"SELECT ano, count(*), sum({parse_ptbr_money_sql('pago')}) "
                f"FROM raw WHERE {term_filter_sql('fonte_de_recurso')} "
                "GROUP BY ano").fetchall()
        finally:
            con.close()
        return {int(a): (int(n), Decimal(s or 0)) for a, n, s in rows}

    def run_pass(self, spark, idx: int, deadline: float | None = None) -> dict:
        with self.b.spans.span(f"pass {idx}", "bench") as ps:
            rec = self.run_steps(spark, idx)
        rec.update(idx=idx, span=ps["id"])
        return rec

    def run_steps(self, spark, idx: int) -> dict:
        """Build, write and every yearly read, as operations under the
        caller's pass span."""
        from etl_transparencia_sergipe_spark.pipelines import (
            consolidated_view,
            royalties_pipeline,
            write_partitioned,
        )

        cidades, anos, meses = self.grid
        out = self.root / f"pass{idx}"
        shutil.rmtree(out, ignore_errors=True)
        spans = self.b.spans
        ops, reads = [], {}
        build = _op("royalties build", "step")
        write = _op("royalties write", "step")
        with spans.span("build", "pipelines") as s:
            self.job_group(spark, f"{idx}:build")
            try:
                df = royalties_pipeline(spark, list(cidades), list(anos),
                                        list(meses))
            except Exception as exc:  # noqa: BLE001
                _fail(build, exc)
        build.update(span=s["id"], wall=_dur(s))
        ops.append(build)
        with spans.span("write", "pipelines") as s:
            self.job_group(spark, f"{idx}:write")
            try:
                if build["ok"]:
                    write_partitioned(df, str(out))
                else:
                    _fail(write, "build failed")
            except Exception as exc:  # noqa: BLE001
                _fail(write, exc)
        write.update(span=s["id"], wall=_dur(s))
        ops.append(write)
        for ano in anos:
            op = _op(f"royalties read {ano}", "read")
            with spans.span(f"read {ano}", "pipelines") as s:
                self.job_group(spark, f"{idx}:read{ano}")
                try:
                    reads[ano] = consolidated_view(spark, str(out),
                                                   ano).toArrow()
                    op["rows"] = reads[ano].num_rows
                    op["bytes"] = reads[ano].nbytes
                except Exception as exc:  # noqa: BLE001
                    _fail(op, exc)
            op.update(span=s["id"], wall=_dur(s), ano=ano)
            ops.append(op)
        rec = {"ops": ops, "etl_dir": out, "wall": sum(o["wall"] for o in ops),
               "write_s": write["wall"], "build_s": build["wall"],
               "reads": reads,
               "etl_rows": sum(t.num_rows for t in reads.values())}
        if self.b.traced and write["ok"]:
            files = list(out.rglob("*.parquet"))
            rec["etl_files"] = len(files)
            rec["etl_bytes"] = sum(f.stat().st_size for f in files)
            rec["read_files_listed"] = sum(
                len(consolidated_view(spark, str(out), a).inputFiles())
                for a in anos)
        return rec

    def check_pass(self, spark, rec: dict) -> None:
        self.check_steps(rec)

    def check_steps(self, rec: dict) -> None:
        for op in rec["ops"]:
            if not (op["ok"] and op["kind"] == "read"):
                continue
            t = rec["reads"][op["ano"]]
            got = (t.num_rows, sum((v for v in t["pago_dec"].to_pylist()
                                    if v is not None), Decimal(0)))
            want = self.expect.get(op["ano"], (0, Decimal(0)))
            if got != want:
                _fail(op, f"year {op['ano']}: got {got}, DuckDB {want}")
        rec.pop("reads")
        shutil.rmtree(rec["etl_dir"], ignore_errors=True)

    def rows_per_s(self, passes: list[dict]) -> float:
        """Royalty rows landed (the correct yearly reads) ÷ the
        ``write_partitioned`` wall."""
        wall = sum(p["write_s"] for p in passes)
        rows = sum(o["rows"] for p in passes for o in p["ops"]
                   if o["ok"] and o["kind"] == "read")
        return rows / wall if wall else 0.0


def _read(path: Path, part: str) -> pa.Table:
    return ds.dataset(str(path / part), format="parquet",
                      partitioning="hive").to_table()


def _tree_stats(paths: list[Path]) -> tuple[int, int]:
    n = size = 0
    for p in paths:
        if p.exists():
            for f in p.rglob("*.parquet"):
                n += 1
                size += f.stat().st_size
    return n, size


def nearest_cell(vecs: np.ndarray, cmat: np.ndarray) -> np.ndarray:
    """Index of each vector's nearest centroid (squared L2 accumulated one
    dimension at a time; ties go to the lowest index)."""
    dist = np.zeros((len(vecs), cmat.shape[0]))
    for dim in range(cmat.shape[1]):
        diff = vecs[:, dim:dim + 1] - cmat[None, :, dim]
        dist = dist + diff * diff
    return dist.argmin(axis=1)


def make(bench, name: str) -> Workload:
    if name in QUERY_SETS:
        return QueryWorkload(bench, name)
    if name == "ingest":
        return IngestWorkload(bench)
    if name == "royalties_etl":
        return RoyaltiesWorkload(bench)
    raise SystemExit(f"unknown workload {name!r}")
