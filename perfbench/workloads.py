"""Per-workload load, correctness checks and metric computation.

A load function talks to the system-under-test JVM while it runs and
returns what the generator side observed; an evaluator turns the JVM's result file and
that observation into an Outcome: ops attempted and failed, end-to-end and
per-layer metrics, and the workload's own named metrics.
"""

import collections
import json
import os
import re
import statistics
import threading
import time

import gen
import stats
from pgclient import PgConn, PgError

# the metric lists of BENCHMARK.json, at the root of the checkout
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
# a layer a workload does not call reports 0 on its metrics
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


class Outcome:
    def __init__(self):
        self.attempted = 0
        self.failures = []
        self.e2e = {}
        self.layer = {}
        self.extras = {}
        self.env = {}
        self.spans = []

    @property
    def failed(self):
        return len(self.failures)

    def extra(self, name, value, unit, n=None):
        self.extras[name] = {"value": value, "unit": unit}
        if n is not None:
            self.extras[name]["n"] = n

    def tail_extra(self, name, values, unit):
        """The highest percentile with at least ten samples beyond it."""
        t = stats.tail(values)
        if t is not None:
            self.extra(name, t[1], unit, len(values))
            self.extras[name]["percentile"] = t[0]

    def finish_layer(self, values):
        self.layer = {k: (float(values.get(k, 0.0)), u) for k, u in PER_LAYER.items()}


# ---- shared trace arithmetic ---------------------------------------------

def delta(result, key):
    return result["engine_end"][key] - result["engine_start"][key]


def spark_layer(result, n_ops):
    n = max(1, n_ops)
    queries = max(1.0, delta(result, "queries"))
    scans = delta(result, "kfs_scans")
    listed = delta(result, "kfs_listed")
    return {
        "spark.jobs_per_op": delta(result, "jobs") / n,
        "spark.tasks_per_op": delta(result, "tasks") / n,
        "spark.shuffle_bytes_per_op": delta(result, "shuffle_bytes") / n,
        "spark.spill_bytes": delta(result, "spill_bytes"),
        "spark.gc_s": delta(result, "gc_ms") / 1000,
        "spark.executor_busy_s": delta(result, "executor_run_ms") / 1000,
        "spark.plan_ms": delta(result, "plan_ms") / queries,
        "spark.exec_ms": delta(result, "exec_ms") / queries,
        "kfs.segments_opened": delta(result, "kfs_opened") / scans if scans else 0.0,
        "kfs.prune_ratio": 1 - delta(result, "kfs_opened") / listed if listed else 0.0,
    }


def trace_layer(spans, root_name):
    """Per-layer self time per op, trace coverage and driver gap (op wall
    not covered by any Spark job) over the ops whose root span name matches
    `root_name`. Op 0 collects Spark jobs submitted outside any span."""
    ops = {s["op"] for s in spans
           if s["parent"] == 0 and s["op"] != 0 and re.match(root_name, s["name"])}
    chosen = [s for s in spans if s["op"] in ops]
    if not ops:
        return {}
    by_layer, walls, _ = stats.self_times(chosen)
    n = len(ops)
    out = {f"self_ms_per_op.{k}": v / 1e6 / n for k, v in by_layer.items()}
    out["trace.self_time_coverage"] = sum(by_layer.values()) / max(1, sum(walls.values()))
    gaps = []
    for op in ops:
        root = next(s for s in chosen if s["op"] == op and s["parent"] == 0)
        jobs = [(max(s["start_ns"], root["start_ns"]), min(s["end_ns"], root["end_ns"]))
                for s in chosen if s["op"] == op and s["layer"] == "spark"]
        gaps.append((root["end_ns"] - root["start_ns"]) - stats.union_length(jobs))
    out["spark.driver_gap_s"] = statistics.median(gaps) / 1e9
    return out


def kfs_append_ms(spans):
    writes = [s for s in spans if s["layer"] == "kfs"
              and s["name"] in ("writeSegment", "writeManifest")]
    segs = sum(1 for s in writes if s["name"] == "writeSegment")
    return sum(s["end_ns"] - s["start_ns"] for s in writes) / 1e6 / segs if segs else 0.0


# ---- pgwire_kafsql --------------------------------------------------------

def rows_match(template, got, expected):
    """`got` equals the model's `expected` rows (multisets; sums compared as
    numbers)."""
    if template == "group_json":
        got = sorted((r[0], r[1], float(r[2])) for r in got)
        return len(got) == len(expected) and all(
            g[0] == e[0] and g[1] == e[1] and abs(g[2] - e[2]) <= 1e-9 * max(1.0, abs(e[2]))
            for g, e in zip(got, expected))
    return sorted(got) == expected


def answer_ok(estate, shift_ms, template, args, rows, t0_wall_ns, t1_wall_ns):
    """`rows` is an answer the server may send for a query sent at wall
    clock t0 and answered at t1: the server reads its clock in between.
    The estate's frame is the wall clock minus `shift_ms`; one ms of slack
    each side covers rounding."""
    a = t0_wall_ns // 1_000_000 - shift_ms - 1
    b = -(-t1_wall_ns // 1_000_000) - shift_ms + 1
    return any(rows_match(template, rows, e) for e in estate.answers(template, args, a, b))


def load_pgwire(jvm, inputs, seconds, traced):
    port, anchor_ms = map(int, jvm.expect("READY").split())
    m = inputs.model
    n = len(m["clients"])
    conns = [PgConn("127.0.0.1", port) for _ in range(n)]

    # warm-up: a fixed number of queries per client, texts the window never uses
    def warm(c):
        for t, args in m["warmup"][c]:
            try:
                conns[c].query(gen.render(t, args))
            except PgError:
                pass

    threads = [threading.Thread(target=warm, args=(c,)) for c in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    jvm.send("MARK_START")
    jvm.expect("MARKED")
    first_op = time.monotonic_ns()
    deadline = first_op + int(seconds * 1e9)
    records = [[] for _ in range(n)]

    def loop(c):
        qs, i = m["clients"][c], 0
        while time.monotonic_ns() < deadline:
            t, args = qs[i % len(qs)]
            i += 1
            sql = gen.render(t, args)
            w0, t0 = time.time_ns(), time.monotonic_ns()
            try:
                rows, nbytes = conns[c].query(sql)
                err = None
            except PgError as e:
                rows, nbytes, err = None, 0, str(e)
            t1, w1 = time.monotonic_ns(), time.time_ns()
            records[c].append((t0, t1, t, args, sql, rows, nbytes, err, w0, w1))

    threads = [threading.Thread(target=loop, args=(c,)) for c in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    jvm.send("MARK_END")
    jvm.expect("MARKED")

    # traced: each probe runs in-process first, then over pg-wire (three
    # times where the Governor cannot serve a repeat from its cache)
    probes = []
    if traced:
        for i, (t, args) in enumerate(m["probes"]):
            jvm.send(f"PROBE {i}")
            jvm.expect(f"PROBED {i}")
            sql = gen.render(t, args)
            times, ok = [], True
            for _ in range(1 if gen.TEMPLATES[t][1] else 3):
                w0, t0 = time.time_ns(), time.monotonic_ns()
                rows, _ = conns[0].query(sql)
                t1, w1 = time.monotonic_ns(), time.time_ns()
                times.append((t1 - t0) / 1e6)
                ok = ok and answer_ok(m["estate"], anchor_ms - gen.NOW_MS, t, args,
                                      rows, w0, w1)
            probes.append({"template": t, "sql": sql, "ms": times, "ok": ok})
    jvm.send("STOP")
    for c in conns:
        c.close()
    return {"first_op_ns": first_op, "records": [r for rs in records for r in rs],
            "probes": probes, "shift_ms": anchor_ms - gen.NOW_MS}


def eval_pgwire(inputs, result, client, traced):
    o = Outcome()
    estate = inputs.model["estate"]
    recs = sorted(client["records"])
    lat, by_template = [], collections.defaultdict(list)
    for t0, t1, t, args, sql, rows, nbytes, err, w0, w1 in recs:
        o.attempted += 1
        if err is not None:
            o.failures.append(f"{sql}: {err}")
        elif not answer_ok(estate, client["shift_ms"], t, args, rows, w0, w1):
            o.failures.append(f"{sql}: wrong result ({len(rows)} rows)")
        else:
            ms = (t1 - t0) / 1e6
            lat.append(ms)
            by_template[t].append(ms)
    window_s = (max(r[1] for r in recs) - client["first_op_ns"]) / 1e9
    p50 = statistics.median(lat)
    qps = len(lat) / window_s
    o.e2e = {"latency_p50_ms": (p50, "ms"), "throughput_per_s": (qps, "1/s")}
    o.extra("query_p50_ms", p50, "ms", len(lat))
    o.tail_extra("query_tail_ms", lat, "ms")
    o.extra("queries_per_s", qps, "1/s", len(lat))
    o.extra("error_ratio", o.failed / max(1, o.attempted), "ratio", o.attempted)
    for t, v in sorted(by_template.items()):
        o.extra(f"query_p50_ms.{t}", statistics.median(v), "ms", len(v))
    # repeat share: a text counts as a repeat when any client sent it in the
    # previous TTL; only cacheable templates can be served from the cache
    last_sent, repeats, cacheable, cacheable_repeats = {}, 0, 0, 0
    for t0, _, t, _, sql, *_ in recs:
        prev = last_sent.get(sql)
        rep = prev is not None and t0 - prev <= gen.GOVERNOR_TTL_S * 1e9
        repeats += rep
        if gen.TEMPLATES[t][1]:
            cacheable += 1
            cacheable_repeats += rep
        last_sent[sql] = t0
    o.extra("repeat_share", repeats / len(recs), "ratio", len(recs))
    o.extra("cacheable_repeat_share", cacheable_repeats / max(1, cacheable), "ratio", cacheable)
    o.env["governor_cache"] = {"entries": gen.GOVERNOR_ENTRIES, "ttl_s": gen.GOVERNOR_TTL_S}

    if traced:
        spans = result["spans"]
        o.spans = spans
        v = dict(result["layer"])
        v.update(spark_layer(result, len(recs)))
        gs, ge = result["gov_start"], result["gov_end"]
        served = ge["queries_served"] - gs["queries_served"]
        v["gov.cache_hit_ratio"] = (ge["result_cache_hits"] - gs["result_cache_hits"]) / max(1, served)
        v["gov.queued_max"] = result["queued_max"]
        v["pgwire.bytes_per_query"] = sum(r[6] for r in recs) / len(recs)
        v["kfs.append_ms"] = kfs_append_ms(spans)
        jp = result["probes"]
        cp = client["probes"]
        for k in ("parse", "plan", "exec"):
            v[f"kafsql.{k}_ms"] = statistics.median(
                [statistics.median(p[f"{k}_ms"]) for p in jp])
            for t in gen.TEMPLATES:
                v[f"kafsql.{k}_ms.{t}"] = statistics.median(
                    [statistics.median(p[f"{k}_ms"]) for p in jp if p["template"] == t])
        client_ms = [statistics.median(c["ms"]) for c in cp]
        gov_ms = [statistics.median(j["governed_ms"]) for j in jp]
        v["pgwire.overhead_ms"] = statistics.median(
            [c - g for c, g, p in zip(client_ms, gov_ms, cp)
             if not gen.TEMPLATES[p["template"]][1]])
        for c in cp:
            o.attempted += len(c["ms"])
            if not c["ok"]:
                o.failures.append(f"probe {c['sql']}: wrong result")
        # one probe = pg-wire round trip ⊃ governedRows ⊃ parse+plan+exec:
        # per op on average, pgwire and gov self time are the differences
        # between the nested runs; the rest comes from the probe ops' spans
        t = trace_layer(spans, r"probe:")
        mean = statistics.fmean
        client_mean = mean([mean(c["ms"]) for c in cp])
        gov_mean = mean([mean(j["governed_ms"]) for j in jp])
        op_mean = sum(val for k, val in t.items() if k.startswith("self_ms_per_op."))
        t["self_ms_per_op.gov"] = gov_mean - op_mean
        t["self_ms_per_op.pgwire"] = client_mean - gov_mean
        total = sum(val for k, val in t.items() if k.startswith("self_ms_per_op."))
        t["trace.self_time_coverage"] = total / client_mean
        v.update(t)
        o.finish_layer(v)
    return o


# ---- ingest_upsert --------------------------------------------------------

def parse_offsets(text):
    """{"topic/partition": next, ...} -> {partition: next}."""
    return {int(p): int(n) for _, p, n in re.findall(r'"([^"]*)/(\d+)"\s*:\s*(\d+)', text)}


def consistent_read(got, floor, committed, state, parts):
    """A read's rows (`got`: partition -> {key: offset}) equal, in every
    partition at once, `state(partition, next offset)` of one committed
    offset vector no older than `floor`."""
    return any(all(v.get(p, 0) >= floor.get(p, 0) and state(p, v.get(p, 0)) == got[p]
                   for p in range(parts)) for v in committed)


def load_none(jvm, inputs, seconds, traced):
    return {}


def eval_ingest(inputs, result, client, traced):
    o = Outcome()
    m = inputs.model
    produced = {p["segment"]: p for p in result["produced"]}
    segs = m["backlog"] + [s for s in m["stream"] if s[0] in produced]
    parts = gen.ING["partitions"]
    records = {p: [] for p in range(parts)}
    bounds = {p: [0] for p in range(parts)}
    for _, _, p, recs in sorted(segs, key=lambda s: (s[2], s[3][0][0])):
        records[p].extend(recs)
        bounds[p].append(recs[-1][0] + 1)
    calls = sorted(result["calls"], key=lambda c: c["end_ns"])
    for c in calls:
        c["next"] = parse_offsets(c["offsets"])
    o.attempted += len(calls)

    # freshness: due time of a segment -> end of the first lane call whose
    # committed offsets cover it
    fresh = []
    for seg in produced.values():
        hit = next((c for c in calls if c["next"].get(seg["partition"], 0) > seg["last_offset"]),
                   None)
        if hit is None:
            o.failures.append(f"segment {seg['segment']} never reached the table")
        else:
            fresh.append((hit["end_ns"] - seg["due_ns"]) / 1e9)
    phase_a = [c for c in calls if c["phase"] == "A"]
    backlog_records = sum(len(s[3]) for s in m["backlog"])
    backfill = backlog_records / (sum(c["end_ns"] - c["start_ns"] for c in phase_a) / 1e9)

    # reads: each must equal, in every partition at once, the table state of
    # one committed batch no older than the last lane call finished before it
    read_keys = set(m["read_keys"])
    committed = [parse_offsets(text) for c in calls for _, text in c["batches"]]
    memo = {}

    def state(p, h):
        """Read keys' latest offsets in partition p below offset h."""
        if (p, h) not in memo:
            out = {}
            for off, _, key, _ in records[p]:
                if off >= h:
                    break
                if key in read_keys:
                    out[key] = off
            memo[(p, h)] = out
        return memo[(p, h)]

    read_ms = []
    for r in result["reads"]:
        o.attempted += 1
        got = collections.defaultdict(dict)
        for p, key, off in r["rows"]:
            got[p][key] = off
        if not consistent_read(got, parse_offsets(r["offsets_before"]), committed,
                               state, parts):
            o.failures.append(f"read of snapshot {r['snapshot']}: matches no committed "
                              "batch at or after the last finished lane call")
        else:
            read_ms.append((r["end_ns"] - r["start_ns"]) / 1e6)

    # final table: the latest record of every key
    o.attempted += 1
    latest = {}
    for p in range(parts):
        for off, _, key, value in records[p]:
            latest[(p, key)] = (off, value)
    final = {(p, key): off for p, key, off in result["final_rows"]}
    if final != {k: v[0] for k, v in latest.items()} or len(result["final_rows"]) != len(final):
        o.failures.append(f"final table has {len(result['final_rows'])} rows, "
                          f"expected the {len(latest)} latest-per-key records")
    live_bytes = sum(len("events") + 4 + len(k) + 8 + 8 + len(v)
                     for (_, k), (_, v) in latest.items())

    p50 = statistics.median(fresh) * 1000
    o.e2e = {"latency_p50_ms": (p50, "ms"), "throughput_per_s": (backfill, "1/s")}
    o.extra("freshness_p50_s", p50 / 1000, "s", len(fresh))
    o.tail_extra("freshness_tail_s", fresh, "s")
    o.extra("backfill_records_per_s", backfill, "1/s", backlog_records)
    if read_ms:
        o.extra("table_read_p50_ms", statistics.median(read_ms), "ms", len(read_ms))
    o.extra("table_bytes_per_live_byte", result["table_bytes"] / live_bytes, "ratio")
    o.extra("error_ratio", o.failed / max(1, o.attempted), "ratio", o.attempted)
    late = [(p["start_ns"] - p["due_ns"]) / 1e6 for p in produced.values()]
    o.env["producer_lateness_ms"] = {"p50": statistics.median(late), "max": max(late),
                                     "segments": len(late)}

    if traced:
        spans = result["spans"]
        o.spans = spans
        v = dict(result["layer"])
        v.update(spark_layer(result, len(calls)))
        v["kfs.append_ms"] = kfs_append_ms(spans)
        full = [c for c in calls if c["snapshots_added"] > 0]
        empty = [c for c in calls if c["snapshots_added"] == 0]
        v["etl.lane_call_s"] = statistics.median([(c["end_ns"] - c["start_ns"]) / 1e9 for c in full])
        if empty:
            v["etl.empty_call_s"] = statistics.median(
                [(c["end_ns"] - c["start_ns"]) / 1e9 for c in empty])
        v["etl.empty_call_ratio"] = len(empty) / len(calls)
        v["etl.snapshots_per_call"] = sum(c["snapshots_added"] for c in full) / max(1, len(full))
        v["etl.maintenance_commits"] = sum(c["maintenance_added"] for c in calls)
        v["etl.live_data_files"] = calls[-1]["data_files"]
        v["etl.live_delete_files"] = calls[-1]["delete_files"]
        v["etl.manifests"] = calls[-1]["manifests"]
        v["etl.read_plan_ms"] = statistics.median([r["plan_ms"] for r in result["reads"]])
        # segments each lane call decoded: those its commit newly covers
        prev, opened = {}, 0
        for c in calls:
            for p in range(parts):
                lo, hi = prev.get(p, 0), c["next"].get(p, 0)
                opened += sum(1 for b in bounds[p][1:] if lo < b <= hi)
            prev = c["next"]
        v["kfs.segments_opened"] = opened / len(calls)
        v.update(trace_layer(spans, r"runUpsert:"))
        o.finish_layer(v)
    return o


# ---- curation_dedup -------------------------------------------------------

def eval_curation(inputs, result, client, traced):
    o = Outcome()
    m = inputs.model
    texts, sh = m["texts"], m["shingles"]
    thr = gen.CUR["threshold"]
    groups = collections.defaultdict(list)
    for i, t in enumerate(texts):
        groups[t.strip().lower()].append(i)
    want_exact = sorted([min(g), len(g)] for g in groups.values() if len(g) > 1)
    planted_exact = {b for _, b in m["exact"]}
    walls, recall = [], []
    for j, job in enumerate(result["jobs"]):
        o.attempted += 1
        errs = []
        if sorted(job["exact"]) != want_exact:
            errs.append("exactGroups differ from the planted exact duplicates")
        partners = collections.defaultdict(set)
        for a, b, jac in job["pairs"]:
            real = gen.jaccard(sh[a], sh[b])
            if not a < b or real < thr or abs(round(real, 4) - jac) > 1.5e-4:
                errs.append(f"pair ({a},{b}) reported {jac}, exact Jaccard {real:.4f}")
            partners[a].add(b)
            partners[b].add(a)
        kept = set(job["kept"])
        for d in set(range(len(texts))) - kept:
            if not any(k in kept and gen.jaccard(sh[d], sh[k]) >= thr for k in partners[d]):
                errs.append(f"doc {d} dropped with no kept doc at Jaccard >= {thr}")
        missed = planted_exact & kept
        if missed:
            errs.append(f"planted exact duplicates kept: {sorted(missed)[:5]}")
        if errs:
            o.failures.append(f"job {j}: " + "; ".join(errs[:3]))
        else:
            walls.append((job["end_ns"] - job["start_ns"]) / 1e9)
        found = {(a, b) for a, b, _ in job["pairs"]}
        recall.append(sum(1 for p in m["near"] if p in found) / max(1, len(m["near"])))
    docs = len(texts)
    p50 = statistics.median(walls)
    o.e2e = {"latency_p50_ms": (p50 * 1000, "ms"),
             "throughput_per_s": (docs * len(walls) / sum(walls), "1/s")}
    o.extra("curation_job_s", p50, "s", len(walls))
    o.extra("docs_per_s", docs * len(walls) / sum(walls), "1/s", len(walls))
    o.extra("planted_near_recall", statistics.median(recall), "ratio", len(recall))
    o.extra("error_ratio", o.failed / max(1, o.attempted), "ratio", o.attempted)
    if traced:
        spans = result["spans"]
        o.spans = spans
        v = dict(result["layer"])
        v.update(spark_layer(result, len(result["jobs"])))
        v["kfs.append_ms"] = kfs_append_ms(spans)
        v.update(trace_layer(spans, r"job$"))
        o.finish_layer(v)
    return o


LOADS = {"pgwire_kafsql": load_pgwire, "ingest_upsert": load_none,
         "curation_dedup": load_none}
EVALUATORS = {"pgwire_kafsql": eval_pgwire, "ingest_upsert": eval_ingest,
              "curation_dedup": eval_curation}
