"""Per-layer metrics from the spans of a traced run.

A span is a dict with id, parent, name, layer, start and end (epoch ms) and
attrs. Layers: "workload" > "op" (one timed operation) > layer calls
("query.build", "query.exec", "sources.ingest", "etl.seed", "etl.update",
"etl.read", "streaming.trigger") > "spark.job". Correctness checks are
"check" spans and lie outside every timed operation.
"""
def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span["start"], span["end"]
    covered = [(max(s, c["start"]), min(e, c["end"])) for c in children
               if c["end"] > s and c["start"] < e]
    return (e - s) - union_ms(covered)


class Tree:
    def __init__(self, spans):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    def ancestors(self, span):
        p = self.by_id.get(span["parent"])
        while p is not None:
            yield p
            p = self.by_id.get(p["parent"])

    def under(self, span, layers):
        """Nearest ancestor whose layer is in `layers`, or None."""
        for a in self.ancestors(span):
            if a["layer"] in layers:
                return a
        return None

    def self_ms(self, span):
        return self_ms(span, self.children.get(span["id"], []))


def dur_s(span):
    return (span["end"] - span["start"]) / 1000.0


def layer_metrics(spans, counters, cpus):
    """Every per-layer metric of the benchmark, as {name: value}. `cpus` is
    the session's core count (local[cpus])."""
    t = Tree(spans)
    ops = [s for s in spans if s["layer"] == "op"]
    jobs = [j for j in spans if j["layer"] == "spark.job"
            and t.under(j, {"op"}) is not None]

    def a(span, k):
        return span.get("attrs", {}).get(k, 0.0)

    def jsum(k, js=None):
        return sum(a(j, k) for j in (jobs if js is None else js))

    def jobs_under(layers):
        return [j for j in jobs if t.under(j, layers) is not None]

    def spans_of(layer):
        return [s for s in spans if s["layer"] == layer]

    m = {}
    op_s = sum(dur_s(o) for o in ops)
    task_s = jsum("task_s")
    m["spark.jobs"] = float(len(jobs))
    m["spark.stages"] = jsum("stages")
    m["spark.tasks"] = jsum("tasks")
    m["spark.task_s"] = task_s
    m["spark.cpu_s"] = jsum("cpu_s")
    m["spark.idle_core_s"] = max(0.0, op_s * cpus - task_s)
    m["spark.task_overhead_s"] = jsum("overhead_s")
    m["spark.task_retries"] = jsum("retries")
    m["spark.shuffle_write_bytes"] = jsum("shuffle_write_bytes")
    m["spark.shuffle_read_bytes"] = jsum("shuffle_read_bytes")
    m["spark.shuffle_fetch_wait_s"] = jsum("fetch_wait_s")
    m["spark.spill_bytes"] = jsum("spill_bytes")
    # stage skew: max/median task time per stage, weighted by stage time
    stages = [st for j in jobs for st in j.get("stage_times", [])]
    weight = sum(st[0] for st in stages)
    m["spark.stage_skew"] = (sum(st[0] * (st[1] / st[2] if st[2] > 0 else 1.0)
                                 for st in stages) / weight) if weight else 0.0
    m["spark.straggler_s"] = sum(st[1] - st[2] for st in stages)

    qjobs = jobs_under({"query.build", "query.exec"})
    m["tables.scan_task_s"] = jsum("scan_task_s", qjobs)
    m["tables.input_bytes"] = jsum("input_bytes", qjobs)
    m["tables.input_rows"] = jsum("input_rows", qjobs)
    m["tables.fanout_exchanges"] = sum(a(o, "fanout_exchanges") for o in ops)
    for phase in ("build", "exec"):
        layer = "query." + phase
        m[f"query.{phase}_s"] = sum(dur_s(s) for s in spans_of(layer))
        m[f"query.{phase}_jobs"] = float(len(jobs_under({layer})))
    m["checkpoints.rdds"] = sum(a(o, "checkpoint_rdds") for o in ops)
    m["checkpoints.peak_bytes"] = max([a(o, "checkpoint_bytes") for o in ops],
                                      default=0.0)
    m["jvm.gc_s"] = counters.get("jvm.gc_s", 0.0)
    m["jvm.heap_peak_mb"] = counters.get("jvm.heap_peak_mb", 0.0)

    ingest = spans_of("sources.ingest")
    ijobs = jobs_under({"sources.ingest"})
    parse = [j for j in ijobs if a(j, "output_bytes") == 0]
    m["sources.parse_s"] = jsum("task_s", parse)
    m["sources.rows"] = sum(a(t.under(s, {"op"}) or {}, "rows") for s in ingest)
    m["sources.bytes"] = sum(a(t.under(s, {"op"}) or {}, "bytes") for s in ingest)
    m["sources.parse_tasks"] = jsum("tasks", parse)

    etl_layers = {"sources.ingest", "etl.seed", "etl.update", "etl.read",
                  "streaming.trigger"}
    ejobs = jobs_under(etl_layers)
    writes = [j for j in ejobs if a(j, "output_bytes") > 0]
    m["etl.plan_s"] = sum(t.self_ms(s) for s in spans
                          if s["layer"] in ("etl.seed", "etl.update")) / 1000.0
    m["etl.write_s"] = sum(dur_s(j) for j in writes)
    m["etl.write_bytes"] = jsum("output_bytes", writes)
    m["etl.write_files"] = counters.get("etl.write_files", 0.0)
    user = counters.get("etl.user_bytes", 0.0)
    m["etl.write_amp"] = m["etl.write_bytes"] / user if user else 0.0
    m["etl.bytes_on_disk"] = counters.get("etl.bytes_on_disk", 0.0)
    m["etl.versions_retained"] = counters.get("etl.versions_retained", 0.0)
    m["etl.delta_depth"] = counters.get("etl.delta_depth", 0.0)
    m["etl.compactions"] = counters.get("etl.compactions", 0.0)
    m["etl.read_s"] = sum(dur_s(s) for s in spans_of("etl.read"))
    m["etl.read_input_bytes"] = jsum("input_bytes", jobs_under({"etl.read"}))

    m["streaming.trigger_s"] = sum(dur_s(s) for s in spans_of("streaming.trigger"))
    m["streaming.add_batch_s"] = counters.get("streaming.add_batch_s", 0.0)
    m["streaming.wal_s"] = counters.get("streaming.wal_s", 0.0)
    m["streaming.batches"] = counters.get("streaming.batches", 0.0)
    m["streaming.rows"] = counters.get("streaming.rows", 0.0)
    return m


def self_times(spans):
    """Self time per layer (ms), summed over the spans of that layer."""
    t = Tree(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + t.self_ms(s)
    return out


def by_op(spans, cpus):
    """The per-layer metrics of each operation name, over all its sweeps or
    passes: the op spans of that name and every span below them. On
    `queries` this separates the kernel from the relational queries."""
    t = Tree(spans)
    out = {}
    for name in sorted({s["name"] for s in spans if s["layer"] == "op"}):
        roots = {s["id"] for s in spans if s["layer"] == "op" and s["name"] == name}
        keep = [s for s in spans if s["id"] in roots
                or any(a["id"] in roots for a in t.ancestors(s))]
        out[name] = layer_metrics(keep, {}, cpus)
    return out
