"""The benchmark's workloads: what one pass runs and how its output is
checked.

A pass runs every step of its workload once, from the calls that build
the DataFrame to the write of its result. The warm pass of set-up
collects each result instead, and :meth:`verify` checks those results;
the other passes write into the no-op sink (registry queries) or to
disk (the track pipeline), and count an exception as a failure.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import math
import os
import random
import sys
import traceback

from __spark_entry__ import SF0001
from inputs import reference_profile, snap_time
from tracing import Recorder

# the fixed, read-only testdata scales next to the entry point's own
SMOKE_SF_DIR = SF0001
SF_DIR = os.path.join(os.path.dirname(SF0001), "sf0.1")

RELATIONAL = (
    "flagship_events_daily", "pricing_summary", "topk_lineitems_per_order",
    "regional_revenue", "asof_nearest_clicks", "bucketed_join_revenue",
    "skew_salted_join_events", "data_quality_audit_orders",
    "tumbling_window_counts",
)
CORPUS_KERNELS = ("simhash_neardup_pairs", "zstd_roundtrip_docs")
PROFILE_CSV_SCHEMA = ("stormname string, point_id long, depth_idx int, "
                      "depth_m double, n_valid long, idw_value double")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _report(what: str) -> None:
    print(f"FAILED {what}", file=sys.stderr)
    traceback.print_exc()


def _norm_cell(v) -> str:
    """The order-insensitive value rule of tools/check_queries.py:
    exact doubles by repr, NaN as a token, bytes as hex."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def table_digest(cols: list[str], rows: list[tuple]) -> tuple:
    """(row count, sorted column names, sha256 of the sorted normalized
    rows with columns in name order)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in norm:
        h.update(repr(r).encode())
    return len(rows), [cols[i] for i in order], h.hexdigest()


def arrow_rows(tbl) -> tuple[list[str], list[tuple]]:
    """(column names, rows as tuples) of an Arrow table. Spark results
    come through Arrow too: much faster than ``collect()`` for the
    quarter-million-row pair tables, with the same Python values."""
    cols = tbl.column_names
    return cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()]


class RegistryWorkload:
    """Registry queries (``__spark_entry__.queries()``) over the
    read-only TPC-style tables. The seed permutes the query order of
    every pass."""

    def __init__(self, name: str, queries: tuple, seed: int, sf_dir: str,
                 cache_dir: str):
        self.name = name
        self.queries = queries
        self.seed = seed
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.fns: dict = {}

    def register(self, spark) -> None:
        from modeltracking_spark.queries import load_registries

        registry, _ = load_registries()
        self.fns = {q: registry[q] for q in self.queries}

    def order(self, pass_idx: int) -> list[str]:
        qs = list(self.queries)
        random.Random(self.seed * 1009 + pass_idx).shuffle(qs)
        return qs

    def run_pass(self, spark, rec: Recorder, pass_idx: int,
                 collect: bool = False) -> tuple[dict, int, int]:
        """Returns (collected results, executions, failures)."""
        results, failed = {}, 0
        for q in self.order(pass_idx):
            try:
                with rec.span("query", q):
                    with rec.span("construct", q):
                        df = self.fns[q](spark, self.sf_dir)
                    with rec.span("exec", q):
                        if collect:
                            results[q] = arrow_rows(df.toArrow())
                        else:
                            df.write.format("noop").mode("overwrite").save()
            except Exception:
                _report(f"{self.name}/{q}")
                failed += 1
        return results, len(self.queries), failed

    def verify(self, results: dict) -> list[str]:
        """Queries whose result differs from their DuckDB oracle."""
        from modeltracking_spark.queries import load_registries

        _, oracles = load_registries()
        want = self.oracle_digests({q: oracles[q] for q in results})
        return [q for q, (cols, rows) in results.items()
                if table_digest(cols, rows) != want[q]]

    def oracle_digests(self, sqls: dict) -> dict:
        """Digest of each oracle's result over ``sf_dir``. The testdata
        is read-only, so a digest is kept in ``cache_dir`` under a key of
        the SQL text, the DuckDB version and the size and mtime of every
        table file, and later runs reuse it."""
        import duckdb

        stamp = [duckdb.__version__]
        for t in TABLES:
            st = os.stat(os.path.join(self.sf_dir, f"{t}.parquet"))
            stamp.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
        paths, out = {}, {}
        for q, sql in sqls.items():
            key = hashlib.sha256("\n".join([self.sf_dir, sql, *stamp]).encode())
            paths[q] = os.path.join(self.cache_dir, f"{q}-{key.hexdigest()[:16]}.json")
            if os.path.exists(paths[q]):
                with open(paths[q]) as fh:
                    out[q] = tuple(json.load(fh))
        todo = [q for q in sqls if q not in out]
        if not todo:
            return out
        con = duckdb.connect()
        try:
            con.execute("SET memory_limit = '2GB'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            for q in todo:
                # fetch through Arrow so DuckDB's HUGEINT stays visible
                out[q] = table_digest(*arrow_rows(con.execute(sqls[q]).arrow()))
        finally:
            con.close()
        os.makedirs(self.cache_dir, exist_ok=True)
        for q in todo:
            tmp = f"{paths[q]}.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(out[q], fh)
            os.replace(tmp, paths[q])  # atomic: concurrent runs never see half a file
        return out


class TrackWorkload:
    """The paper pipeline: NHC best-track CSV and a HYCOM-style netCDF
    grid -> IDW depth profile along every track -> CSV, plus the
    two-panel figure of one storm."""

    name = "track_profile"

    def __init__(self, inputs, seed: int, out_dir: str):
        self.inp = inputs
        self.out_dir = out_dir
        names = sorted(set(inputs.tracks["name"]))
        self.storm = names[seed % len(names)]
        first_fix = min(t for n, t in zip(inputs.tracks["name"],
                                          inputs.tracks["t_hours"])
                        if n == self.storm)
        self.storm_start = int(snap_time(first_fix))

    def register(self, spark) -> None:
        from pyspark.errors import PySparkException

        from modeltracking_spark.queries.common import ensure_pkg_on_workers
        from modeltracking_spark.sources.grid_source import HycomGridDataSource

        ensure_pkg_on_workers(spark)
        try:
            spark.dataSource.register(HycomGridDataSource)
        except PySparkException:
            pass  # registered already in this session

    @property
    def csv_dir(self) -> str:
        return os.path.join(self.out_dir, "profile_csv")

    @property
    def png_path(self) -> str:
        return os.path.join(self.out_dir, "figure.png")

    def run_pass(self, spark, rec: Recorder, pass_idx: int,
                 collect: bool = False) -> tuple[dict, int, int]:
        from pyspark.sql import functions as F

        from modeltracking_spark.operators.profile import profile_along_track
        from modeltracking_spark.plotting import render_figure_png
        from modeltracking_spark.sources.tracks import (
            read_nhc_best_track,
            write_track_csv,
        )

        q = "track_profile"
        try:
            with rec.span("query", q):
                with rec.span("construct", q):
                    # hourly fixes: the hour stamp identifies a fix in its storm
                    track = read_nhc_best_track(spark, self.inp.track_path) \
                        .withColumn("point_id", F.col("t_hours"))
                    # pushdown: time filters prune the grid's time steps,
                    # as the reference slices the grid server-side
                    grid = spark.read.format("hycom_grid") \
                        .option("path", self.inp.grid_path) \
                        .option("pushdown", "true").load()
                    profile = profile_along_track(
                        track, grid, "water_temp", 25, track_col="stormname")
                with rec.span("exec", q):
                    write_track_csv(profile, self.csv_dir)
                with rec.span("plotting", q):
                    # the figure is drawn from the profile just written
                    written = spark.read.csv(self.csv_dir, header=True,
                                             schema=PROFILE_CSV_SCHEMA)
                    one = F.col("stormname") == self.storm
                    # the map panel shows the field at the storm's first fix
                    at_start = F.col("time_hours") == self.storm_start
                    render_figure_png(written.where(one), track.where(one),
                                      grid.where(at_start), self.png_path)
        except Exception:
            _report(f"{self.name}/pass {pass_idx}")
            return {}, 1, 1
        return {q: True}, 1, 0

    def verify(self, results: dict) -> list[str]:
        """Compare the written CSV with the numpy IDW reference and
        check that the figure is a PNG."""
        if not results:
            return []  # the pass already counted its failure
        bad = []
        ref = reference_profile(self.inp)
        got = {}
        for path in glob.glob(os.path.join(self.csv_dir, "part-*.csv")):
            with open(path, newline="") as fh:
                for r in csv.DictReader(fh):
                    key = (r["stormname"], int(r["point_id"]), int(r["depth_idx"]))
                    val = float(r["idw_value"]) if r["idw_value"] else None
                    got[key] = (int(r["n_valid"]), val)
        if got.keys() != ref.keys():
            bad.append(f"profile keys: {len(got)} written, {len(ref)} expected")
        else:
            for key, (n, v) in ref.items():
                gn, gv = got[key]
                if gn != n or (v is None) != (gv is None) or (
                        v is not None and not math.isclose(gv, v, rel_tol=1e-9)):
                    bad.append(f"profile value at {key}: {got[key]} != {(n, v)}")
                    break
        with open(self.png_path, "rb") as fh:
            head = fh.read(24)
        if head[:8] != b"\x89PNG\r\n\x1a\n" or int.from_bytes(head[16:20], "big") == 0:
            bad.append("figure is not a PNG")
        return bad
