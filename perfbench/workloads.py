"""The benchmark workloads, flagship and convert, and the pipeline legs
that traced flagship runs add.

Each workload function takes the run's ``Bench`` and returns
``(values, report)``: ``values`` maps BENCHMARK.json metric names to
numbers, ``report`` maps the human-readable metric names to
``(value, unit)``.  ``LAYERS[workload]`` turns the traced run's stashed
walls and event-log totals into the per-layer metrics.  Only public
functions of skyway_spark and jobs/ are called; the program is never
patched.  Why each workload exists, and which end-to-end metric each
layer metric should move, is in perfbench/DESIGN.md.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import Observation
from pyspark.sql import functions as F

PINNED_PATH = Path(__file__).resolve().parent / "pinned.json"

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


# the vCPUs this run may use
CPUS = sorted(os.sched_getaffinity(0))


def cpu_times() -> tuple[float, float]:
    """Busy and stolen seconds so far, summed over the run's vCPUs."""
    tck = os.sysconf("SC_CLK_TCK")
    busy = steal = 0
    with open("/proc/stat", encoding="ascii") as f:
        for ln in f:
            if ln.startswith("cpu") and ln[3].isdigit():
                fields = ln.split()
                if int(fields[0][3:]) in CPUS:
                    # user nice system idle iowait irq softirq steal
                    busy += sum(int(x) for x in fields[1:4] + fields[6:8])
                    steal += int(fields[8])
    return busy / tck, steal / tck


class Meter:
    """Wall time of one call, and that wall less the host's steal.

    A vCPU that has work either runs it (busy) or waits for the host to
    run it (steal).  ``stolen`` is the share of steal in busy + steal
    over the call; ``adj = wall * (1 - stolen)`` is the wall the call
    would have taken had the host run every vCPU whenever it had work.
    For a call that keeps all vCPUs busy that is the wall less the mean
    steal per vCPU, for a call on one vCPU the wall less that vCPU's
    steal.  ``adj`` is what the benchmark reports; on a host that steals
    nothing it is the wall."""

    def __init__(self) -> None:
        self.t0 = time.monotonic()
        self.busy0, self.steal0 = cpu_times()

    def read(self) -> dict:
        wall = time.monotonic() - self.t0
        busy, steal = cpu_times()
        busy, steal = busy - self.busy0, steal - self.steal0
        stolen = steal / (busy + steal) if busy + steal > 0 else 0.0
        return {"wall": wall, "stolen": stolen, "adj": wall * (1 - stolen)}


def _tree_threads() -> list[int]:
    """Thread ids of this process and of every process below it (the
    Spark JVM, the Python worker daemon and its workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                raw = f.read()
        except OSError:
            continue
        children.setdefault(int(raw[raw.rindex(")") + 2 :].split()[1]), []).append(int(d))
    tids, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            tids += [int(t) for t in os.listdir(f"/proc/{pid}/task")]
        except OSError:
            pass
    return tids


@contextmanager
def pinned():
    """Run the block with every thread of the process tree on one vCPU.

    A plan build is a long ping-pong of py4j calls between the driver
    and the JVM.  Across vCPUs every hop waits for the host to wake the
    other vCPU; on a shared 4-vCPU host that made the same flagship
    build (at the default 35 scattered polygons) take 6 to 16 s.  On one
    vCPU a hop is a local context switch, and the same builds took 5.9
    to 6.9 s."""

    def move(cpus) -> None:
        for tid in _tree_threads():
            try:
                os.sched_setaffinity(tid, cpus)
            except OSError:
                pass  # the thread ended meanwhile

    move({CPUS[0]})
    try:
        yield
    finally:
        move(set(CPUS))


def timed_loop(seconds: float, min_iters: int, fn) -> list[dict]:
    """Call ``fn(i)`` until ``seconds`` have passed and at least
    ``min_iters`` calls were made; return the ``Meter`` reading of each."""
    out: list[dict] = []
    deadline = time.monotonic() + seconds
    while len(out) < min_iters or time.monotonic() < deadline:
        m = Meter()
        fn(len(out))
        out.append(m.read())
    return out


def median(xs) -> float:
    return float(statistics.median(xs))


def noop(df) -> None:
    """Run ``df`` to the noop sink.  Never ``count()``: a count lets
    Catalyst prune the projections whose cost we want to measure."""
    df.write.format("noop").mode("overwrite").save()


def noop_rows(df, name: str) -> int:
    """Noop-sink ``df`` and return its exact row count from an
    observation collected in the same pass (no extra Spark job).  Only
    for plans without a sort: a range-partitioned sort runs the plan
    twice and the observation would count both."""
    obs = Observation(name)
    noop(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return int(obs.get["rows"])


def expected(b, workload: str, key: str, observed):
    """The pinned output digest for (size, seed) when one is pinned,
    else ``observed`` (the run's own reference output)."""
    with open(PINNED_PATH, encoding="utf-8") as f:
        pins = json.load(f).get(workload, {})
    hit = pins.get(key)
    b.check(f"{workload}.pinned[{key}]", hit is None or hit == observed,
            {"pinned": hit, "observed": observed}, timed=False)
    return observed if hit is None else hit


def dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


# ---------------------------------------------------------------------------
# flagship: pages -> extract -> CEL -> PIP -> tile rollup, noop sink
# ---------------------------------------------------------------------------

FLAGSHIP_PAGES = 100_000
FLAGSHIP_CEL = 'tags["amenity"] != "bench"'
# the 5 hot-city polygons plus 10 scattered ones.  point_in_polygon
# builds its plan with some 80 py4j calls per polygon edge; at the
# default 35 scattered polygons one build took 7.5 s warm and 24 s cold
# on a shared 4-vCPU host, too long to repeat within a run.
FLAGSHIP_SCATTER = 10
PIP_RES = 6
TILE_Z = 10
FLAGSHIP_SETUP_REPS = 3
FLAGSHIP_WARMUP_S = 2.0
FLAGSHIP_MIN_ITERS = 3
FLAGSHIP_PREFIX_REPS = 2
FLAGSHIP_LAYERS = ("scan", "extract", "filter", "pip", "tiles")


def _flagship_plan(b, pages) -> tuple[dict, float]:
    """Cumulative plan prefixes of the flagship, and the seconds the
    eager ``point_in_polygon`` plan build took."""
    from skyway_spark.functions.filter import apply_cel
    from skyway_spark.operators import tiles
    from skyway_spark.operators.extract import extract_geo_entities
    from skyway_spark.operators.pip import point_in_polygon
    from skyway_spark.sources.generate import generate_polygons

    with b.tracer.span("flagship.plan.extract_geo_entities"):
        ents = extract_geo_entities(pages)
    with b.tracer.span("flagship.plan.apply_cel"):
        kept = apply_cel(ents, FLAGSHIP_CEL)
    polys = generate_polygons(b.spark, n_scatter=FLAGSHIP_SCATTER, seed=b.seed)
    t0 = time.monotonic()
    with b.tracer.span("flagship.plan.point_in_polygon"):
        hits = point_in_polygon(kept.select("id", "lat", "lon"), polys, res=PIP_RES)
    pip_s = time.monotonic() - t0
    with b.tracer.span("flagship.plan.assign_tiles"):
        rolled = (
            tiles.assign_tiles(hits, TILE_Z)
            .groupBy("polygon_id", "tile_x", "tile_y")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    prefixes = {
        # the scan prefix reads only the columns extraction reads
        "scan": pages.select("url", "text", "lang"),
        "extract": ents,
        "filter": kept,
        "pip": hits,
        "tiles": rolled,
    }
    return prefixes, pip_s


_ROLLUP_SUMS = ("rows", "n", "pid_n", "x_n", "y_n")


def _rollup_sums(rows) -> list[int]:
    return [
        len(rows),
        sum(r["n"] for r in rows),
        sum(r["n"] * r["polygon_id"] for r in rows),
        sum(r["n"] * r["tile_x"] for r in rows),
        sum(r["n"] * r["tile_y"] for r in rows),
    ]


def _observe_rollup(df, obs):
    n = F.col("n")
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(n).alias("n"),
        F.sum(n * F.col("polygon_id")).alias("pid_n"),
        F.sum(n * F.col("tile_x")).alias("x_n"),
        F.sum(n * F.col("tile_y")).alias("y_n"),
    )


def flagship(b):
    from skyway_spark.sources.generate import generate_pages

    spark = b.spark
    b.inputs = {"pages": FLAGSHIP_PAGES, "polygons_scatter": FLAGSHIP_SCATTER, "polygons_seed": b.seed}
    # the pages depend on FLAGSHIP_PAGES only, so a checkout keeps them
    # between runs; they are written under a temporary name first
    pages_dir = b.cache / f"pages-{FLAGSHIP_PAGES}-{4 * b.nproc}"
    if not (pages_dir / "_SUCCESS").exists():
        with b.tracer.span("flagship.input.generate_pages"):
            generate_pages(spark, FLAGSHIP_PAGES, partitions=4 * b.nproc).write.parquet(b.path("pages"))
        shutil.rmtree(pages_dir, ignore_errors=True)
        os.replace(b.path("pages"), pages_dir)
    # 1 MB splits: several task waves per core, as bench.py's flagship
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
    pages = spark.read.parquet(str(pages_dir))

    # the first plan build runs while the JVM still compiles, untimed
    with b.tracer.span("flagship.plan"):
        plan, _ = _flagship_plan(b, pages)

    # untimed warm-up, which also collects the reference rollup
    with b.group("flagship.warmup"):
        rows = plan["tiles"].collect()
    text = "".join(
        f"{r['polygon_id']},{r['tile_x']},{r['tile_y']},{r['n']}\n"
        for r in sorted(rows, key=lambda r: (r["polygon_id"], r["tile_x"], r["tile_y"]))
    )
    want = expected(
        b, "flagship", f"{FLAGSHIP_PAGES}/{FLAGSHIP_SCATTER}/{b.seed}",
        {"sha256": hashlib.sha256(text.encode()).hexdigest(), "sums": _rollup_sums(rows)},
    )

    def one(i, group="flagship.run", timed=True):
        obs = Observation(f"{group}.{i}")
        with b.group(group):
            noop(_observe_rollup(plan["tiles"], obs))
        got = [int(obs.get[k]) for k in _ROLLUP_SUMS]
        b.check("flagship.rollup", got == want["sums"], got, timed=timed)

    # A single warm-up execution leaves a JIT trend in the timed walls
    # (1.6 s falling to 0.9 s over 13 iterations on 4 cores), so the
    # warm-up goes on for FLAGSHIP_WARMUP_S of noop passes.
    timed_loop(FLAGSHIP_WARMUP_S, 1, lambda i: one(i, "flagship.warmup", timed=False))

    iters = timed_loop(b.seconds, FLAGSHIP_MIN_ITERS, one)

    # set-up: the plan build, again, on the warm JVM and on one vCPU
    setup, pip_builds = [], []
    for k in range(FLAGSHIP_SETUP_REPS):
        with pinned(), b.tracer.span("flagship.setup", rep=k):
            m = Meter()
            _, pip_s = _flagship_plan(b, pages)
            setup.append(m.read())
        pip_builds.append(pip_s)

    wall = median(m["wall"] for m in iters)
    docs_per_s = FLAGSHIP_PAGES / median(m["adj"] for m in iters)
    setup_s = median(m["adj"] for m in setup)
    values = {"items_per_s": docs_per_s, "setup_s": setup_s}
    report = {
        "flagship_docs_per_s": (docs_per_s, "docs/s"),
        "flagship_wall_docs_per_s": (FLAGSHIP_PAGES / wall, "docs/s"),
        "flagship_wall_median_s": (wall, "s"),
        "flagship_iterations": (len(iters), "count"),
        "setup_s": (setup_s, "s"),
        "setup_wall_s": (median(m["wall"] for m in setup), "s"),
        "pip_plan_build_s": (median(pip_builds), "s"),
    }
    b.stash = {"iters": iters, "setup": setup, "pip_builds": pip_builds}

    if b.trace:
        values["trace.items_per_s"] = docs_per_s
        layer_walls, layer_rows = {}, {}
        for layer in FLAGSHIP_LAYERS:
            ws = []
            with b.group(f"flagship.{layer}"):
                for r in range(FLAGSHIP_PREFIX_REPS):
                    t0 = time.monotonic()
                    layer_rows[layer] = noop_rows(plan[layer], f"flagship.{layer}.{r}")
                    ws.append(time.monotonic() - t0)
            layer_walls[layer] = median(ws)
        b.stash.update(layer_walls=layer_walls, layer_rows=layer_rows)
        b.stash["pipeline"] = leg = pipeline_legs(b)
        b.inputs["pipeline_pages"] = PIPELINE_PAGES
        report["pipeline_cold_s"] = (leg["cold_s"], "s")
        report["pipeline_resume_s"] = (leg["resume_s"], "s")
    return values, report


def _marginal(cumulative: dict, layers) -> dict:
    out, prev = {}, 0.0
    for layer in layers:
        out[layer] = cumulative[layer] - prev
        prev = cumulative[layer]
    return out


def flagship_layers(b, totals) -> dict:
    reps = FLAGSHIP_PREFIX_REPS
    groups = {layer: totals[f"flagship.{layer}"] for layer in FLAGSHIP_LAYERS}
    values = {}
    for measure, cum in (
        ("wall_s", b.stash["layer_walls"]),
        ("task_cpu_s", {k: g.cpu_s / reps for k, g in groups.items()}),
        ("gc_s", {k: g.gc_s / reps for k, g in groups.items()}),
    ):
        for layer, v in _marginal(cum, FLAGSHIP_LAYERS).items():
            values[f"flagship.{layer}.{measure}"] = v
    for layer, n in b.stash["layer_rows"].items():
        values[f"flagship.{layer}.rows_out"] = n
    values["flagship.pip.plan_build_s"] = median(b.stash["pip_builds"])
    values["flagship.pip.task_max_over_median"] = groups["pip"].skew()
    values["flagship.tiles.shuffle_write_bytes"] = groups["tiles"].shuffle_write_bytes / reps
    return {**values, **pipeline_layers(b, totals)}


# ---------------------------------------------------------------------------
# convert: skyway's own job, read -> OSMFilter + CEL -> write per format
# ---------------------------------------------------------------------------

CONVERT_ELEMENTS = (3000, 2000, 1000)  # nodes, ways, relations
# (input format, output format): PBF has no writer, it converts to OPL
CONVERT_FORMATS = (("opl", "opl"), ("json", "json"), ("xml", "xml"), ("pbf", "opl"))
CONVERT_FILTERS = [
    # a DROP branch and a tag mutation, then a CEL expression
    (
        "OSMFilter v0.2.0\n"
        "\n"
        'EQUALS "amenity" "cafe"\n'
        "\tDROP\n"
        'RENAME "name" "label"\n'
        "COMMIT\n"
    ),
    'has(tags.label) || type == "way" || size(tags) > 3',
]
CONVERT_METADATA = {
    "version": "0.6",
    "generator": "perfbench",
    "copyright": None,
    "license": None,
    "timestamp": None,
}
CONVERT_SETUP_REPS = 5
CONVERT_WARMUP_PASSES = 1
CONVERT_MIN_PASSES = 1
CONVERT_LAYERS = ("parse", "filter", "serialize", "write")


def _element_dicts(rows) -> list[dict]:
    """element_rows tuples -> the element dicts encode_pbf takes.  PBF
    stores timestamps as epoch values, so the opaque timestamp string
    of the fixture is left out."""
    from skyway_spark.schema import ELEMENTS_SCHEMA

    names = [f.name for f in ELEMENTS_SCHEMA.fields]
    out = []
    for r in rows:
        e = {k: v for k, v in zip(names, r) if v is not None and k != "timestamp"}
        if "members" in e:
            e["members"] = [{"type": t, "ref": ref, "role": role or ""} for t, ref, role in e["members"]]
        out.append(e)
    return out


def _write_inputs(b, rows) -> dict:
    from skyway_spark.schema import ELEMENTS_SCHEMA
    from skyway_spark.sources import convert
    from skyway_spark.sources.pbf import encode_pbf

    src = b.spark.createDataFrame(rows, ELEMENTS_SCHEMA)
    paths = {}
    for fmt in ("opl", "json", "xml"):
        paths[fmt] = b.path(f"input.{fmt}")
        with b.tracer.span(f"convert.input.{fmt}"):
            text = convert.serialize_string(src, fmt, CONVERT_METADATA)
        with open(paths[fmt], "w", encoding="utf-8") as f:
            f.write(text)
    paths["pbf"] = b.path("input.pbf")
    with b.tracer.span("convert.input.pbf"):
        encode_pbf(paths["pbf"], _element_dicts(rows), generator="perfbench")
    return paths


def _output_digest(path: str) -> tuple[str, int, int]:
    """sha256 of header + parts (in part order) + footer, the element
    line count, and the bytes written."""
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    side = [os.path.join(path, n) for n in ("_header.json", "_header.xml")]
    tail = [os.path.join(path, n) for n in ("_footer.json", "_footer.xml")]
    h, lines, size = hashlib.sha256(), 0, 0
    for p in [s for s in side if os.path.exists(s)] + parts + [t for t in tail if os.path.exists(t)]:
        with open(p, "rb") as f:
            data = f.read()
        h.update(data)
        size += len(data)
        if p in parts:
            lines += data.count(b"\n")
    return h.hexdigest(), lines, size


def _convert_once(b, fmt: str, to: str, path: str, out: str) -> dict:
    """One read -> filter -> write of one format; returns its ``Meter``
    reading."""
    from skyway_spark.functions.filter import apply_filters
    from skyway_spark.sources import convert

    m = Meter()
    with b.tracer.span(f"convert.{fmt}.read_elements"):
        df, md = convert.read_elements(b.spark, path, fmt)
    with b.tracer.span(f"convert.{fmt}.apply_filters"):
        df = apply_filters(df, CONVERT_FILTERS)
    with b.tracer.span(f"convert.{fmt}.write_elements"):
        convert.write_elements(df, out, to, md)
    return m.read()


def _serialized(df, to: str):
    """The projection ``write_elements`` writes, without the write."""
    from skyway_spark.sources import jsonio, xmlio
    from skyway_spark.sources import opl as oplio

    if to == "opl":
        return oplio.serialize_opl(df)
    col = jsonio.element_json_col(df) if to == "json" else xmlio.element_xml_col(df)
    rank = F.when(F.col("type") == "node", 0).when(F.col("type") == "way", 1).otherwise(2)
    return df.orderBy(rank, F.col("id")).select(col.alias("value"))


def convert(b):
    from skyway_spark.functions.filter import apply_filters
    from skyway_spark.sources import convert as convert_mod
    from skyway_spark.sources.generate import element_rows

    with b.tracer.span("convert.input.element_rows"):
        rows = element_rows(*CONVERT_ELEMENTS, seed=b.seed)
    b.inputs = {"elements": dict(zip(("nodes", "ways", "relations"), CONVERT_ELEMENTS)), "seed": b.seed}
    n_elems = len(rows)
    paths = _write_inputs(b, rows)

    # one warm-up pass: the first timed pass after it runs about 6 %
    # slower than the next, but by the same share in every run
    with b.group("convert.warmup"):
        for _ in range(CONVERT_WARMUP_PASSES):
            for fmt, to in CONVERT_FORMATS:
                _convert_once(b, fmt, to, paths[fmt], b.path(f"out-{fmt}"))

    size_key = "/".join(map(str, CONVERT_ELEMENTS))
    want = {}
    for fmt, _ in CONVERT_FORMATS:
        sha, lines, _ = _output_digest(b.path(f"out-{fmt}"))
        want[fmt] = expected(b, "convert", f"{size_key}/{b.seed}/{fmt}", {"sha256": sha, "rows_kept": lines})

    iters = {fmt: [] for fmt, _ in CONVERT_FORMATS}
    bytes_out = {}

    def one_pass(i):
        kept = set()
        for fmt, to in CONVERT_FORMATS:
            out = b.path(f"out-{fmt}")
            with b.group(f"convert.{fmt}"):
                iters[fmt].append(_convert_once(b, fmt, to, paths[fmt], out))
            sha, lines, size = _output_digest(out)
            bytes_out[fmt] = size
            kept.add(lines)
            b.check(f"convert.{fmt}.output", {"sha256": sha, "rows_kept": lines} == want[fmt], sha)
        b.check("convert.rows_kept_equal_across_formats", len(kept) == 1, sorted(kept), timed=False)

    passes = timed_loop(b.seconds, CONVERT_MIN_PASSES, one_pass)

    # set-up: the driver-side filter-chain compile over a lazy reader
    # plan, on the warm JVM and on one vCPU
    setup = []
    for k in range(CONVERT_SETUP_REPS):
        with pinned(), b.tracer.span("convert.setup", rep=k):
            m = Meter()
            df, _ = convert_mod.read_elements(b.spark, paths["opl"], "opl")
            apply_filters(df, CONVERT_FILTERS)
            setup.append(m.read())

    per_fmt = {fmt: n_elems / median(m["adj"] for m in ms) for fmt, ms in iters.items()}
    items_per_s = len(per_fmt) * n_elems / sum(median(m["adj"] for m in ms) for ms in iters.values())
    wall_per_s = len(per_fmt) * n_elems / sum(median(m["wall"] for m in ms) for ms in iters.values())
    setup_s = median(m["adj"] for m in setup)
    values = {"items_per_s": items_per_s, "setup_s": setup_s}
    report = {f"convert_{fmt}_elems_per_s": (v, "elements/s") for fmt, v in per_fmt.items()}
    report.update(
        {
            "convert_elems_per_s": (items_per_s, "elements/s"),
            "convert_wall_elems_per_s": (wall_per_s, "elements/s"),
            "convert_passes": (len(passes), "count"),
            "setup_s": (setup_s, "s"),
            "setup_wall_s": (median(m["wall"] for m in setup), "s"),
        }
    )
    b.stash = {"iters": iters, "setup": setup, "passes": len(passes), "bytes_out": bytes_out}

    if b.trace:
        values["trace.items_per_s"] = items_per_s
        b.stash["layers"] = {fmt: _convert_layers(b, fmt, to, paths[fmt]) for fmt, to in CONVERT_FORMATS}
    return values, report


def _convert_layers(b, fmt: str, to: str, path: str) -> dict:
    """Cumulative walls of read, +filter, +serialize (noop sink) and
    +write for one format, each in its own job group."""
    from skyway_spark.functions.filter import apply_filters
    from skyway_spark.sources import convert as convert_mod

    cum = {}
    with b.group(f"convert.{fmt}.parse"):
        t0 = time.monotonic()
        df, md = convert_mod.read_elements(b.spark, path, fmt)
        t_read = time.monotonic() - t0
        rows_in = noop_rows(df, f"convert.{fmt}.rows_in")
        cum["parse"] = time.monotonic() - t0
    out = apply_filters(df, CONVERT_FILTERS)
    with b.group(f"convert.{fmt}.filter"):
        t0 = time.monotonic()
        rows_kept = noop_rows(out, f"convert.{fmt}.rows_kept")
        cum["filter"] = t_read + time.monotonic() - t0
    with b.group(f"convert.{fmt}.serialize"):
        t0 = time.monotonic()
        noop(_serialized(out, to))
        cum["serialize"] = t_read + time.monotonic() - t0
    with b.group(f"convert.{fmt}.write"):
        t0 = time.monotonic()
        convert_mod.write_elements(out, b.path(f"layers-{fmt}"), to, md)
        cum["write"] = t_read + time.monotonic() - t0
    return {"cum": cum, "rows_in": rows_in, "rows_kept": rows_kept}


def convert_layers(b, totals) -> dict:
    from eventlog import PY_BOOT, PY_SENT, PY_TOTAL

    values = {}
    passes = b.stash["passes"]
    for fmt, _ in CONVERT_FORMATS:
        lay = b.stash["layers"][fmt]
        for layer, v in _marginal(lay["cum"], CONVERT_LAYERS).items():
            values[f"convert.{fmt}.{layer}.wall_s"] = v
        g = totals[f"convert.{fmt}"]
        values.update(
            {
                f"convert.{fmt}.rows_in": lay["rows_in"],
                f"convert.{fmt}.rows_kept": lay["rows_kept"],
                f"convert.{fmt}.bytes_out": b.stash["bytes_out"][fmt],
                f"convert.{fmt}.python_total_s": g.sql[PY_TOTAL] / passes,
                f"convert.{fmt}.python_boot_s": g.sql[PY_BOOT] / passes,
                f"convert.{fmt}.python_data_sent_bytes": g.sql[PY_SENT] / passes,
                f"convert.{fmt}.task_cpu_s": g.cpu_s / passes,
                f"convert.{fmt}.gc_s": g.gc_s / passes,
            }
        )
    return values


# ---------------------------------------------------------------------------
# pipeline legs (traced flagship runs only): jobs.run_pipeline.run cold on
# a fresh checkpoint root, then again on the same root as a resume
# ---------------------------------------------------------------------------

PIPELINE_PAGES = 20_000
PIPELINE_STAGES = ("pages", "extract", "filter", "pip", "tiles", "opl")


def _tiles_digest(out: str) -> str:
    """sha256 of the sorted tiles output, read with pyarrow (no Spark job)."""
    import pyarrow.parquet as pq

    lines = sorted(
        json.dumps(r, sort_keys=True) for r in pq.read_table(os.path.join(out, "tiles")).to_pylist()
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _pipeline_rows(m: dict) -> dict:
    return {
        "entities": m["entities"],
        "pip_hits": m["pip_hits"],
        **{s["stage"]: s["rows"] for s in m["stages"]},
    }


def pipeline_legs(b) -> dict:
    """One checked cold + resume pair on the JVM the flagship warmed
    (a warm-up pair of its own took 40 s and would take a traced run
    near the 180 s limit); returns what pipeline_layers reports."""
    from jobs import run_pipeline

    out, ckpt = b.path("pipeline-out"), b.path("pipeline-ckpt")
    with b.group("pipeline.cold"):
        t0 = time.monotonic()
        m1 = run_pipeline.run(PIPELINE_PAGES, out, ckpt, cpus=b.nproc)
        cold_s = time.monotonic() - t0
    d1 = _tiles_digest(out)
    ckpt_bytes = dir_bytes(ckpt)
    with b.group("pipeline.resume"):
        t0 = time.monotonic()
        m2 = run_pipeline.run(PIPELINE_PAGES, out, ckpt, cpus=b.nproc)
        resume_s = time.monotonic() - t0
    d2 = _tiles_digest(out)

    got = {"tiles_sha256": d1, "rows": _pipeline_rows(m1)}
    want = expected(b, "pipeline", str(PIPELINE_PAGES), got)
    b.check("pipeline.cold.output", got == want, got)
    b.check(
        "pipeline.resume.output",
        all(s["resumed"] for s in m2["stages"]) and _pipeline_rows(m2) == got["rows"] and d2 == d1,
        {"resumed": [s["resumed"] for s in m2["stages"]], "tiles_sha256": d2},
    )
    return {
        "cold_s": cold_s,
        "resume_s": resume_s,
        "cold_stages": {s["stage"]: s["wall_ms"] / 1000 for s in m1["stages"]},
        "resumed_stages": sum(s["resumed"] for s in m2["stages"]),
        "jobs_cold": b.jobs_in("pipeline.cold"),
        "jobs_resume": b.jobs_in("pipeline.resume"),
        "checkpoint_bytes": ckpt_bytes,
    }


def pipeline_layers(b, totals) -> dict:
    leg = b.stash["pipeline"]
    values = {f"pipeline.{st}.wall_s": leg["cold_stages"][st] for st in PIPELINE_STAGES}
    values.update(
        {
            "pipeline.cold.wall_s": leg["cold_s"],
            "pipeline.resume.wall_s": leg["resume_s"],
            "pipeline.cold.task_cpu_s": totals["pipeline.cold"].cpu_s,
            "pipeline.spark_jobs_cold": leg["jobs_cold"],
            "pipeline.spark_jobs_resume": leg["jobs_resume"],
            "pipeline.checkpoint_bytes": leg["checkpoint_bytes"],
            "pipeline.resumed_stages": leg["resumed_stages"],
        }
    )
    return values


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

WORKLOADS = {"flagship": flagship, "convert": convert}
# per-layer metric name prefixes that only one workload measures
LAYER_PREFIXES = {"flagship": ("flagship.", "pipeline."), "convert": ("convert.",)}
LAYERS = {"flagship": flagship_layers, "convert": convert_layers}


def tracing_overhead(out_dir: Path, workload: str, values: dict) -> float | None:
    """Untraced over traced items/s, minus one, against the newest
    untraced record of this workload in ``out_dir``; None if none."""
    records = sorted(out_dir.glob(f"record-{workload}-trace0-*.json"), key=lambda p: p.stat().st_mtime)
    if not records:
        return None
    with open(records[-1], encoding="utf-8") as f:
        untraced = json.load(f)["values"]["items_per_s"]
    return untraced / values["trace.items_per_s"] - 1.0
