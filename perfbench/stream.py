"""Open-loop streaming workload ``wh_stream``.

One generator thread lands topic_log JSON (``log_queries.raw_log`` over the
seed's events) and topic_db CDC JSON as parquet files, in event-time order,
each file stamped with its due time. Four Structured Streaming queries are
built from the public pipeline functions:

- hop 1: ``dwd_base_log.transform(streaming=True)`` page split -> file topic;
- hop 2: ``dws.traffic_vc_ch_ar_is_new_page_view_window`` streaming from that
  topic (the Kafka hop);
- ``read_topic_db`` -> ``dwd_trade.cart_add`` -> ``dws.trade_cart_add_uu_window``;
- ``dim_app.route_dims`` -> foreachBatch ``sinks.upsert_parquet``.

Phases: a warm-up file (untimed); a capacity phase that drains a
pre-staged backlog (closed loop, ``CAP`` files per trigger, drained when
every first-hop query has committed it); a fixed-rate phase (open loop)
for latency. Latency of a row runs from its file's due time to the
commit of the last micro-batch that carried it to a sink (hop 2 for log
rows), read from the queries' checkpoint logs. Outputs are then checked
against a batch run of the same pipeline functions over the same files;
windowed outputs are compared up to each query's final watermark.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import check, gen, harness

CAP = 6  # maxFilesPerTrigger of the first-hop queries
WARM_FILES = 1
BACKLOG_FILES = 18  # drained in 3 triggers per first-hop query
WINDOW = "1 day"  # the streaming e2e tests' stream-vs-batch window
SPEC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")
MAX_LAG_S = 0.1  # generator lag beyond this marks the fixed-rate phase invalid
DB_SCHEMA = "value string, due_ms long"


def rate_files_per_s() -> float:
    with open(SPEC) as f:
        return float(json.load(f)["wh_stream"]["rate_files_per_s"])


def prepare(workload: str, seed: int) -> tuple[str, dict]:
    from .batch import INPUT

    return gen.materialize(harness.CACHE, seed, **INPUT), {}


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------
def _log_rows(spark, data_dir: str) -> list[tuple[int, str]]:
    """(ts_ms, json) in event-time order (ties by sid, as the batch repair)."""
    import pyspark.sql.functions as F
    from gmall_flink_realtime4_spark.plans.log_queries import raw_log

    rows = raw_log(spark, data_dir).select(
        F.get_json_object("value", "$.ts").cast("long").alias("ts"),
        F.get_json_object("value", "$.common.sid").alias("sid"),
        "value",
    ).collect()
    rows.sort(key=lambda r: (r["ts"], r["sid"]))
    return [(r["ts"], r["value"]) for r in rows]


def _cdc_rows(seed: int, n: int, n_users: int, n_skus: int) -> list[str]:
    """Seeded topic_db CDC: cart_info inserts/updates and dim-table changes
    (insert -> update* -> delete -> insert ...) with ascending ts (seconds)."""
    r = np.random.default_rng([gen.BASE_SEED, 9, seed])
    live: dict[tuple[str, int], bool] = {}
    carts: dict[int, int] = {}
    out = []
    ts = 1_704_067_200
    dims = [("user_info", n_users), ("sku_info", n_skus),
            ("base_province", 25), ("activity_rule", 50)]
    for i in range(n):
        ts += int(r.integers(100, 400))  # ~6 days, so daily windows close
        if r.random() < 0.5:
            cid = int(r.integers(0, max(1, n // 4)))
            num = int(r.integers(1, 10))
            data = {"id": str(cid), "user_id": str(int(r.integers(0, n_users))),
                    "sku_id": str(int(r.integers(0, n_skus))), "cart_price": "9.9",
                    "sku_num": str(num), "sku_name": f"sku{cid}", "create_time": str(ts)}
            if cid in carts:
                typ, old = "update", {"sku_num": str(carts[cid])}
            else:
                typ, old = "insert", None
            carts[cid] = num
            out.append({"database": "gmall", "table": "cart_info", "type": typ,
                        "ts": ts, "data": data, "old": old})
            continue
        table, space = dims[int(r.integers(0, len(dims)))]
        key = int(r.integers(0, space))
        if not live.get((table, key)):
            typ = "insert"
        else:
            typ = "delete" if r.random() < 0.2 else "update"
        live[(table, key)] = typ != "delete"
        out.append({"database": "gmall", "table": table, "type": typ, "ts": ts,
                    "data": {"id": str(key), "user_id": str(key % 97),
                             "status": f"s{int(r.integers(0, 5))}",
                             "date_id": f"2024-01-{1 + key % 28:02d}", "junk": "x"},
                    "old": None})
    return [json.dumps(x, separators=(",", ":")) for x in out]


def build_inputs(spark, data_dir: str, seed: int, n_files: int) -> dict:
    """Per-seed file contents (cached): ``n_files`` equal slices of each
    topic, in event-time order."""
    path = os.path.join(data_dir, f"_stream{n_files}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    logs = _log_rows(spark, data_dir)
    dims = pq.read_table(os.path.join(data_dir, "customer.parquet")).num_rows, \
        pq.read_table(os.path.join(data_dir, "part.parquet")).num_rows
    cdc = _cdc_rows(seed, len(logs), *dims)
    bounds = np.linspace(0, len(logs), n_files + 1).astype(int)
    files = [{"log": [v for _, v in logs[a:b]], "db": cdc[a:b]}
             for a, b in zip(bounds[:-1], bounds[1:])]
    with open(path + ".tmp", "w") as f:
        json.dump({"files": files}, f)
    os.replace(path + ".tmp", path)
    return {"files": files}


# --------------------------------------------------------------------------
# generator
# --------------------------------------------------------------------------
class Generator:
    """Lands file pairs at their due times from one thread."""

    def __init__(self, log_dir: str, db_dir: str):
        self.log_dir, self.db_dir = log_dir, db_dir
        self.landed: list[dict] = []  # {idx, due, landed, rows, bytes}
        self.seq = 0

    def _write(self, directory: str, values: list[str], due: float) -> int:
        name = f"part-{self.seq:05d}-due{int(due * 1000)}.parquet"
        tbl = pa.table({"value": pa.array(values, pa.string()),
                        "due_ms": pa.array([int(due * 1000)] * len(values), pa.int64())})
        tmp = os.path.join(directory, "." + name)
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(directory, name))
        return os.path.getsize(os.path.join(directory, name))

    def land(self, item: dict, due: float, phase: str) -> None:
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        size = self._write(self.log_dir, item["log"], due)
        size += self._write(self.db_dir, item["db"], due)
        self.landed.append({"seq": self.seq, "due": due, "landed": time.time(),
                            "phase": phase, "log_rows": len(item["log"]),
                            "db_rows": len(item["db"]), "bytes": size,
                            "log_name": f"part-{self.seq:05d}-due{int(due * 1000)}.parquet"})
        self.seq += 1

    def schedule(self, items: list[dict], dues: list[float], phase: str) -> threading.Thread:
        def body():
            for item, due in zip(items, dues):
                self.land(item, due, phase)
        t = threading.Thread(target=body, name=f"gen-{phase}", daemon=True)
        t.start()
        return t


# --------------------------------------------------------------------------
# checkpoint logs
# --------------------------------------------------------------------------
def _log_entries(directory: str) -> list[dict]:
    out = []
    for p in glob.glob(os.path.join(directory, "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            lines = f.read().splitlines()[1:]
        out.extend(json.loads(x) for x in lines if x.strip())
    return out


def consumed(ckpt: str) -> dict[str, int]:
    """file basename -> batch id, from a file source's metadata log."""
    return {os.path.basename(e["path"]): e["batchId"]
            for e in _log_entries(os.path.join(ckpt, "sources", "0"))}


def commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    return {int(n): os.path.getmtime(os.path.join(d, n))
            for n in os.listdir(d) if n.isdigit()}


def offset_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "offsets")
    return {int(n): os.path.getmtime(os.path.join(d, n))
            for n in os.listdir(d) if n.isdigit()}


# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------
class Pipelines:
    def __init__(self, spark, base: str, spans: harness.Spans):
        self.spark, self.base, self.spans = spark, base, spans
        self.dirs = {k: os.path.join(base, k) for k in (
            "log_src", "db_src", "topic", "vc_out", "uu_out", "dims")}
        self.ck = {k: os.path.join(base, "ck", k) for k in ("hop1", "hop2", "uu", "dims")}
        for k in ("log_src", "db_src"):
            os.makedirs(self.dirs[k], exist_ok=True)
        self.sink_ms: list[float] = []
        self.sink_bytes = 0
        self.sink_errors = 0
        self.build_s = 0.0
        self.queries: dict = {}

    def _timed_build(self, name, fn, *a, **k):
        t0 = time.perf_counter()
        with self.spans.span(f"pipelines/{name}"):
            out = fn(*a, **k)
        self.build_s += time.perf_counter() - t0
        return out

    def _upsert(self, batch_df, batch_id) -> None:
        from gmall_flink_realtime4_spark import sinks

        t0 = time.perf_counter()
        try:
            sinks.upsert_parquet(batch_df, self.dirs["dims"], ["sink_table", "row_key"],
                                 "ts", delete_col="type")
        except Exception:
            self.sink_errors += 1
            raise
        finally:
            self.sink_ms.append((time.perf_counter() - t0) * 1000.0)
        self.sink_bytes += _dir_bytes(self.dirs["dims"])

    def start(self) -> None:
        from gmall_flink_realtime4_spark import sinks
        from gmall_flink_realtime4_spark.pipelines import dim_app, dwd_base_log, dwd_trade, dws
        from gmall_flink_realtime4_spark.plans.log_queries import DIM_CONFIG
        from gmall_flink_realtime4_spark.sources import read_topic_db
        from gmall_flink_realtime4_spark.streaming.runner import stream_parquet_source

        spark, d, ck = self.spark, self.dirs, self.ck
        log_src = stream_parquet_source(spark, d["log_src"], DB_SCHEMA, CAP)
        page = self._timed_build("dwd_base_log.transform", dwd_base_log.transform,
                                 log_src, streaming=True)["page"]
        q = {}
        q["hop1"] = sinks.table_append_sink(page, d["topic"], ck["hop1"]).start()
        topic = stream_parquet_source(spark, d["topic"], page.schema, 1 << 20)
        vc = self._timed_build("dws.traffic_vc_ch_ar_is_new_page_view_window",
                               dws.traffic_vc_ch_ar_is_new_page_view_window,
                               topic, window=WINDOW, streaming=True)
        q["hop2"] = sinks.table_append_sink(vc, d["vc_out"], ck["hop2"]).start()
        db_src = stream_parquet_source(spark, d["db_src"], DB_SCHEMA, CAP)
        cdc = self._timed_build("read_topic_db", read_topic_db, db_src, watermark=None)
        cart = self._timed_build("dwd_trade.cart_add", dwd_trade.cart_add, cdc)
        uu = self._timed_build("dws.trade_cart_add_uu_window",
                               dws.trade_cart_add_uu_window, cart, window=WINDOW,
                               streaming=True)
        q["uu"] = sinks.table_append_sink(uu, d["uu_out"], ck["uu"]).start()
        cfg = spark.createDataFrame(DIM_CONFIG, "source_table string, sink_table string,"
                                    " sink_columns string, sink_row_key string")
        db_src2 = stream_parquet_source(spark, d["db_src"], DB_SCHEMA, CAP)
        routed = self._timed_build("dim_app.route_dims", dim_app.route_dims,
                                   read_topic_db(db_src2), cfg)
        q["dims"] = (routed.writeStream.foreachBatch(self._upsert)
                     .option("checkpointLocation", ck["dims"]).start())
        self.queries = q
        self.config = cfg

    def drain(self) -> None:
        """Process everything landed so far, hop 1 before hop 2."""
        for name in ("hop1", "uu", "dims", "hop2"):
            self.queries[name].processAllAvailable()

    def stop(self) -> list[str]:
        errors = []
        for name, q in self.queries.items():
            try:
                if q.exception() is not None:
                    errors.append(f"{name}: {q.exception()}")
            finally:
                q.stop()
                q.awaitTermination()
        return errors


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path)
               for f in fs if not f.startswith((".", "_")) and "_spark_metadata" not in r)


def _first_hop_end(p: Pipelines, landed: list[dict]) -> float:
    """Latest commit of a first-hop batch that took one of ``landed``."""
    ends = []
    for k in ("hop1", "uu", "dims"):
        used, commits = consumed(p.ck[k]), commit_times(p.ck[k])
        ends += [commits[used[f["log_name"]]] for f in landed]
    return max(ends)


def _latencies(p: Pipelines, landed: list[dict]) -> dict[int, float]:
    """seq -> seconds from due time to the last sink commit carrying it."""
    c1, c2 = commit_times(p.ck["hop1"]), commit_times(p.ck["hop2"])
    used = {k: consumed(p.ck[k]) for k in ("hop1", "hop2", "uu", "dims")}
    commits = {k: commit_times(p.ck[k]) for k in ("uu", "dims")}
    # hop-1 output files -> the hop-1 batch that wrote them (by mtime)
    b1_order = sorted(c1.items())
    topic_files = [os.path.basename(f) for f in glob.glob(os.path.join(p.dirs["topic"], "*.parquet"))]
    hop2_of_b1: dict[int, int] = {}
    for name in topic_files:
        mt = os.path.getmtime(os.path.join(p.dirs["topic"], name))
        b1 = next((b for b, t in b1_order if t >= mt), None)
        if b1 is not None and name in used["hop2"]:
            hop2_of_b1[b1] = max(hop2_of_b1.get(b1, -1), used["hop2"][name])
    out = {}
    for f in landed:
        name = f["log_name"]
        ends = []
        b1 = used["hop1"].get(name)
        if b1 is not None and b1 in c1:
            b2 = hop2_of_b1.get(b1)
            ends.append(c2[b2] if b2 is not None and b2 in c2 else c1[b1])
        for k in ("uu", "dims"):
            b = used[k].get(name)
            if b is not None and b in commits[k]:
                ends.append(commits[k][b])
        if len(ends) == 3:
            out[f["seq"]] = max(ends) - f["due"]
    return out


def _backlog(p: Pipelines, landed: list[dict]) -> list[tuple[float, int]]:
    """(time, files landed but not yet taken by a first-hop batch)."""
    starts = {k: offset_times(p.ck[k]) for k in ("hop1", "uu", "dims")}
    used = {k: consumed(p.ck[k]) for k in ("hop1", "uu", "dims")}
    events = []
    for f in landed:
        taken = [starts[k].get(used[k].get(f["log_name"], -1)) for k in starts]
        end = max((t for t in taken if t is not None), default=float("inf"))
        events += [(f["landed"], 1), (end, -1)]
    level, out = 0, []
    for t, d in sorted(events):
        level += d
        out.append((t, level))
    return out


def _mean_level(curve: list[tuple[float, int]], a: float, b: float) -> float:
    """Time-averaged backlog over [a, b) of a step curve."""
    area, level, t = 0.0, 0, a
    for ti, lv in curve:
        if ti > a:
            area += level * (min(ti, b) - t)
            t = min(ti, b)
        if ti >= b:
            break
        level = lv
    return (area + level * (b - t)) / (b - a)


def _progress_metrics(p: Pipelines) -> dict[str, float]:
    progs = [pr for q in p.queries.values() for pr in q.recentProgress]
    data = [pr for pr in progs if pr["numInputRows"] > 0]

    def dur(key):
        return [pr["durationMs"].get(key, 0) for pr in data]

    last = [q.recentProgress[-1] for q in p.queries.values() if q.recentProgress]
    ops = [op for pr in last for op in pr.get("stateOperators", [])]
    pct = harness.percentile
    return {
        "streaming.batches": float(len(progs)),
        "streaming.trigger_ms_p50": pct(dur("triggerExecution"), 0.5),
        "streaming.trigger_ms_p90": pct(dur("triggerExecution"), 0.9),
        "streaming.add_batch_ms_p50": pct(dur("addBatch"), 0.5),
        "streaming.query_planning_ms_p50": pct(dur("queryPlanning"), 0.5),
        "streaming.latest_offset_ms_p50": pct(dur("latestOffset"), 0.5),
        "streaming.wal_commit_ms_p50": pct(dur("walCommit"), 0.5),
        "streaming.input_rows_per_s": pct([pr["inputRowsPerSecond"] for pr in data], 0.5),
        "streaming.processed_rows_per_s": pct(
            [pr["processedRowsPerSecond"] for pr in data], 0.5),
        "streaming.state_rows": float(sum(op.get("numRowsTotal", 0) for op in ops)),
        "streaming.state_mem_mb": sum(op.get("memoryUsedBytes", 0) for op in ops) / 2**20,
        "streaming.late_rows_dropped": float(sum(
            op.get("numRowsDroppedByWatermark", 0)
            for pr in progs for op in pr.get("stateOperators", []))),
    }


def _watermark(query):
    """The event-time watermark the query's last micro-batch ran under."""
    import pyspark.sql.functions as F

    wm = query.recentProgress[-1].get("eventTime", {}).get("watermark")
    return F.lit(wm.replace("T", " ").rstrip("Z")).cast("timestamp")


def _check(spark, p: Pipelines) -> list[str]:
    """Stream outputs vs a batch run of the same pipeline functions over the
    same landed files; windows are compared up to the final watermark."""
    import pyspark.sql.functions as F
    from gmall_flink_realtime4_spark import sinks
    from gmall_flink_realtime4_spark.pipelines import dim_app, dwd_base_log, dwd_trade, dws
    from gmall_flink_realtime4_spark.sources import read_topic_db

    log_b = spark.read.schema(DB_SCHEMA).parquet(p.dirs["log_src"])
    db_b = spark.read.schema(DB_SCHEMA).parquet(p.dirs["db_src"])
    page_b = dwd_base_log.transform(log_b)["page"]
    wm2, wm_uu = _watermark(p.queries["hop2"]), _watermark(p.queries["uu"])
    pairs = {
        "hop1_topic": (spark.read.parquet(p.dirs["topic"]), page_b),
        "hop2_vc_ch_ar_window": (
            spark.read.parquet(p.dirs["vc_out"]).filter(F.col("edt") <= wm2),
            dws.traffic_vc_ch_ar_is_new_page_view_window(page_b, window=WINDOW)
            .filter(F.col("edt") <= wm2)),
        "cart_add_uu_window": (
            spark.read.parquet(p.dirs["uu_out"]).filter(F.col("edt") <= wm_uu),
            dws.trade_cart_add_uu_window(dwd_trade.cart_add(
                read_topic_db(db_b, watermark=None)), window=WINDOW)
            .filter(F.col("edt") <= wm_uu)),
    }
    batch_dims = os.path.join(p.base, "dims_batch")
    sinks.upsert_parquet(dim_app.route_dims(read_topic_db(db_b), p.config), batch_dims,
                         ["sink_table", "row_key"], "ts", delete_col="type")
    pairs["dim_upsert"] = (spark.read.parquet(p.dirs["dims"]),
                           spark.read.parquet(batch_dims))
    wrong = []
    for name, (got, want) in pairs.items():
        try:
            cols = sorted(want.columns)
            g = check.fingerprint(got.select(*cols).toPandas())
            why = check.mismatch(g, check.fingerprint(want.select(*cols).toPandas()))
            if why is None and g["rows"] == 0:
                why = "no rows to compare"
        except Exception:
            why = traceback.format_exc(limit=3)
        if why:
            wrong.append(name)
            print(f"# WRONG {name}: {why}", file=sys.stderr, flush=True)
    return wrong


def run(ctx, workload: str, seed: int, seconds: int, trace: bool) -> dict:
    spark = ctx.sessions.spark
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    rate = rate_files_per_s()
    n_rate = max(2, int(round(rate * seconds)))
    with ctx.spans.span("stream/inputs"):
        inputs = build_inputs(spark, ctx.data_dir, seed,
                              WARM_FILES + BACKLOG_FILES + n_rate)
    files = inputs["files"]
    p = Pipelines(spark, os.path.join(ctx.run_dir, "stream"), ctx.spans)
    g = Generator(p.dirs["log_src"], p.dirs["db_src"])
    with ctx.spans.span("stream/start"):
        p.start()
    try:
        with ctx.spans.span("stream/warmup"):
            now = time.time()
            g.schedule(files[:WARM_FILES], [now] * WARM_FILES, "warm").join()
            p.drain()
        with ctx.spans.span("stream/capacity"):
            backlog = files[WARM_FILES:WARM_FILES + BACKLOG_FILES]
            t_cap = time.time()
            g.schedule(backlog, [t_cap] * len(backlog), "capacity").join()
            p.drain()
        with ctx.spans.span("stream/fixed_rate"):
            t0 = time.time() + 0.2
            dues = [t0 + i / rate for i in range(n_rate)]
            g.schedule(files[WARM_FILES + BACKLOG_FILES:], dues, "rate").join()
            t_end = time.time()
            p.drain()
        ctx.load.sample()
    finally:
        errors = p.stop()
    for e in errors:
        print(f"# QUERY FAILED {e}", file=sys.stderr)

    landed = g.landed
    lat = _latencies(p, landed)
    cap_files = [f for f in landed if f["phase"] == "capacity"]
    rate_files = [f for f in landed if f["phase"] == "rate"]
    # the backlog is drained when every first-hop query has committed it;
    # hop 2's tail is a second queue and shows in the latencies instead
    drain_s = _first_hop_end(p, cap_files) - t_cap
    cap_rows = sum(f["log_rows"] + f["db_rows"] for f in cap_files)
    samples = []
    for f in rate_files:
        samples += [lat[f["seq"]] * 1000.0] * (f["log_rows"] + f["db_rows"])
    p99, q99 = harness.tail_percentile(samples)
    lag_ms = max((f["landed"] - f["due"]) * 1000.0 for f in rate_files)
    valid = lag_ms <= MAX_LAG_S * 1000.0
    curve = _backlog(p, landed)
    # backlog slope: mean level in the phase's second half minus the first
    # half, per second; near 0 when the rate is sustainable
    mid = (dues[0] + t_end) / 2
    growth = (_mean_level(curve, mid, t_end) - _mean_level(curve, dues[0], mid)) / (
        mid - dues[0])
    print(f"# stream: capacity drain {drain_s:.3f}s for {cap_rows} rows; "
          f"{len(samples)} latency samples from {len(rate_files)} files, p99 read "
          f"at q={q99:.3f}; generator lag max {lag_ms:.1f} ms "
          f"({'valid' if valid else 'INVALID: generator fell behind'})",
          file=sys.stderr, flush=True)
    with ctx.spans.span("stream/check"):
        wrong = _check(spark, p)
    for name, q in p.queries.items():
        data = [pr for pr in q.recentProgress if pr["numInputRows"] > 0]
        print(f"# stream query {name}: {len(q.recentProgress)} batches, {len(data)} with"
              f" data; trigger/addBatch ms p50 "
              f"{harness.percentile([pr['durationMs']['triggerExecution'] for pr in data], .5):.0f}/"
              f"{harness.percentile([pr['durationMs'].get('addBatch', 0) for pr in data], .5):.0f}",
              file=sys.stderr)
    n_batches = sum(len(q.recentProgress) for q in p.queries.values())
    failed = len(errors) + len(wrong) + (0 if valid else 1)
    result = {
        # micro-batches run, the four output checks, the generator schedule
        "attempted": n_batches + 4 + 1,
        "failed": failed,
        "correct": not wrong and not errors,
        "valid": valid,
        "metrics": {
            "setup_s": ctx.setup["setup_s"],
            "pass_s": drain_s,
            "capacity_rows_per_s": cap_rows / drain_s,
            "latency_p50_ms": harness.percentile(samples, 0.5),
            "latency_p99_ms": p99,
        },
        "samples": {"latency": len(samples), "latency_files": len(rate_files),
                    "p99_quantile": q99},
    }
    if trace:
        in_bytes = sum(f["bytes"] for f in landed)
        out_bytes = p.sink_bytes + sum(_dir_bytes(p.dirs[k])
                                       for k in ("topic", "vc_out", "uu_out"))
        layers = _progress_metrics(p)
        layers.update({
            "session.jvm_rss_peak_mb": ctx.sessions.jvm_rss_peak_mb(),
            "pipelines.build_s": p.build_s,
            "streaming.backlog_files_max": float(max(lv for _, lv in curve)),
            "sinks.write_ms_p50": harness.percentile(p.sink_ms, 0.5),
            "sinks.write_ms_p90": harness.percentile(p.sink_ms, 0.9),
            "sinks.bytes_written_mb": out_bytes / 2**20,
            "sinks.write_amp": out_bytes / in_bytes,
            "sinks.retries": float(p.sink_errors),
            "gen.lag_ms_max": lag_ms,
            "gen.rows_offered": float(sum(f["log_rows"] + f["db_rows"] for f in rate_files)),
            "gen.backlog_growth": growth,
        })
        result["layers"] = layers
    return result
