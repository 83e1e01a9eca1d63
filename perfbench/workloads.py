"""The workloads. ``events_batch`` and ``corpus_v3`` are the gated ones;
``rules_heavy`` runs on its own too, and runs with the streaming form
of ``events_batch``'s config inside ``events_batch``'s traced run.
Each workload returns a :class:`Result`.

Shared shape of a run: launch the driver JVM and build in its first
application, run a fixed number of warm-up passes, measure for
``seconds`` and verify the outputs. Then start ``SETUP_REPS`` fresh
applications in the same, now warm, JVM and time set-up in each;
``setup_s`` is their median. In a traced run the per-layer experiments
follow in the same JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field

import gen
import reference as ref
from harness import Session, Tracer, dir_bytes, group_stats, job_group, median, percentile, read_json_lines, timed

SETUP_REPS = 3
WARMUP_PASSES = 7
RULES_WARMUP_PASSES = 2
EVENTS_BATCH_N = 8000
RULES_HEAVY_N = 3000
RULES_HEAVY_SIZES = {"labels": 200, "detect": 60}
STREAM_TRIGGER_S = 1.0
STREAM_RATES = [500, 1000, 2000]  # events/s, the ladder for the sustained rate
STREAM_FIXED_RUNG = 1  # latency is reported at this rung's fixed offered rate
STREAM_RUNG_S = 3.0
STREAM_WARMUP_S = 2.0
STREAM_P99_LIMIT_S = 5.0
CORPUS_DOCS = 1000
CORPUS_MIN_PASSES = 1
PROCESSORS = ["decoder", "dissector", "timestamper", "domain_label_extractor", "generic_resolver",
              "pseudonymizer", "network_comparison", "labeler", "concatenator", "deleter", "pre_detector"]


@dataclass
class Ctx:
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    session: Session

    @property
    def trace(self) -> bool:
        return self.tracer.enabled

    def out(self, name: str) -> str:
        return os.path.join(self.work, "out", name)


@dataclass
class Result:
    setup: list[float]
    throughput: float
    latencies: list[float]
    attempted: int
    failed: int
    peak_rss_mb: float = 0.0
    layers: dict = field(default_factory=dict)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def fmt(xs: list[float]) -> str:
    return " ".join(f"{x:.2f}" for x in xs)


def _span_times(tracer: Tracer, name: str) -> list[float]:
    return [s["end"] - s["start"] for s in tracer.spans if s["name"] == name]


def _exec_layers(ctx: Ctx, groups: list[str], walls: list[float]) -> dict:
    """``exec.*`` per measured pass, as medians over the passes."""
    per = [group_stats(ctx.session.sc, g) for g in groups]
    cpus = ctx.session.cpus
    return {
        "exec.s": median(walls),
        "exec.jobs": median([p["jobs"] for p in per]),
        "exec.stages": median([p["stages"] for p in per]),
        "exec.tasks": median([p["tasks"] for p in per]),
        "exec.task_busy_frac": median([p["run_s"] / (w * cpus) for p, w in zip(per, walls)]),
        "exec.shuffle_bytes": median([p["shuffle_bytes"] for p in per]),
        "exec.spill_bytes": median([p["spill_bytes"] for p in per]),
    }


# --- events_batch / rules_heavy --------------------------------------


class EventsJob:
    """A reference-format config over event JSONL with a main JSONL
    output and one side output, built through the public API."""

    def __init__(self, ctx: Ctx, kind: str, inputs: str):
        self.ctx = ctx
        self.kind = kind
        self.inputs = inputs
        self.config_path = os.path.join(inputs, "pipeline.json")
        self.events_path = os.path.join(inputs, "events")

    def build(self):
        """Config → input frame → pipeline plan; returns the built job."""
        from logprep_spark.factory import PipelineConfig
        from logprep_spark.sources import JsonlInput

        spark = self.ctx.session.spark
        tr = self.ctx.tracer
        with tr.span("factory.build"):
            self.pc = PipelineConfig.from_file(self.config_path)
        with tr.span("sources.read_plan"):
            self.input = JsonlInput(self.events_path, gen.EVENT_SCHEMA).read(spark)
        with job_group(self.ctx.session.sc, "plan"), tr.span("operators.plan"):
            self.main = self.pc.transform(self.input)
            last = self.pc.processors[-1]
            if self.kind == "rules_heavy":
                self.side = last.detections_bulk(self.main)
            else:
                self.side = last.extracted(self.main)["errors"]
        return self

    def write(self, group: str) -> float:
        """One pass: main and side outputs committed as JSONL."""
        from logprep_spark.sources import JsonlOutput

        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with job_group(self.ctx.session.sc, group):
            with tr.span("sources.write"):
                JsonlOutput(self.ctx.out("main")).write(self.main)
            with tr.span("sources.side_out"):
                JsonlOutput(self.ctx.out("side")).write(self.side)
        return time.perf_counter() - t0


def _count_lines(path: str) -> int:
    n = 0
    for name in os.listdir(path):
        if name.startswith("part-"):
            with open(os.path.join(path, name), "rb") as fh:
                n += sum(1 for line in fh if line.strip())
    return n


def _verify_events(ctx: Ctx, kind: str, events: list[dict], config: dict) -> tuple[int, int, dict]:
    """Compare the last pass's sample rows, main and side output, with
    the plain-Python reference. Returns (sample rows, rows missing, extra
    or different, order-insensitive digests of got and want)."""
    if kind == "rules_heavy":
        _n, want_main, want_side = ref.rules_expected(events, config)
        project = ref.rules_project
    else:
        _n, want_main, want_side = ref.batch_expected(events, config)
        project = ref.batch_project
    got_main = {r["event_id"]: project(r) for r in read_json_lines(ctx.out("main"))
                if r["event_id"] % ref.SAMPLE_MOD == 0}
    side_rows = read_json_lines(ctx.out("side"))
    if kind == "rules_heavy":
        got_side = _alerts_by_event(side_rows, want_side, config)
    else:
        got_side = {r["event_id"]: {"event_id": r["event_id"], "src_ip": r["src_ip"]}
                    for r in side_rows if r["event_id"] % ref.SAMPLE_MOD == 0}
    wrong = ref.compare(got_main, want_main) + ref.compare(got_side, want_side)
    digests = {"main": ref.digest(got_main), "main_ref": ref.digest(want_main)}
    return len(want_main), wrong, digests


def _alerts_by_event(rows: list[dict], sample: dict, config: dict) -> dict:
    """Alert rule ids per sample event. An alert names its event only
    through ``pre_detection_id`` = sha256("<rule id>|<event id>")."""
    import hashlib

    rule_ids = [r["pre_detector"]["id"] for item in config["pipeline"]
                for name, cfg in item.items() if name == "pre_detector" for r in cfg["rules"]]
    owner = {hashlib.sha256(f"{rid}|{eid}".encode()).hexdigest(): (eid, rid)
             for eid in sample for rid in rule_ids}
    out: dict = {eid: [] for eid in sample}
    for r in rows:
        hit = owner.get(r["pre_detection_id"])
        if hit is not None:
            out[hit[0]].append(hit[1])
    return {k: sorted(v) for k, v in out.items()}


def events(ctx: Ctx, kind: str) -> Result:
    sizes = RULES_HEAVY_SIZES if kind == "rules_heavy" else {}
    n_events = RULES_HEAVY_N if kind == "rules_heavy" else EVENTS_BATCH_N
    inputs = gen.ensure_events(ctx.work, kind, ctx.seed, n_events, **sizes)
    events_list = gen.load_events(inputs)
    with open(os.path.join(inputs, "pipeline.json"), encoding="utf-8") as fh:
        config = json.load(fh)
    if kind == "rules_heavy":
        n_main, n_side_want = n_events, None  # alert count: every pass must match the warm-up's
    else:
        n_main, _m, _s = ref.batch_expected(events_list, config)
        n_side_want = sum(1 for e in events_list if e["level"] == "error")

    sess = ctx.session
    tr = ctx.tracer
    launch_s = sess.start()
    with tr.span("cold_build"):
        job = EventsJob(ctx, kind, inputs).build()
    plan_jobs = group_stats(sess.sc, "plan")["jobs"]
    # JIT warm-up, not measured: a fixed number of passes, so every run
    # starts measuring from the same point of the JVM's warm-up curve
    for _ in range(WARMUP_PASSES):
        job.write("warmup")
    if n_side_want is None:
        n_side_want = _count_lines(ctx.out("side"))

    walls, groups, failed = [], [], 0
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(walls) < 4:
        g = f"pass{len(walls)}"
        with tr.span("pass"):
            walls.append(job.write(g))
        groups.append(g)
        failed += abs(_count_lines(ctx.out("main")) - n_main)
        failed += abs(_count_lines(ctx.out("side")) - n_side_want)
    sampled, wrong, digests = _verify_events(ctx, kind, events_list, config)
    failed += wrong
    attempted = n_events * len(walls)
    rss = sess.peak_rss_mb()
    layers: dict = {}
    if ctx.trace:
        layers.update(_exec_layers(ctx, groups, walls))
        layers["operators.plan_jobs"] = plan_jobs

    # set-up samples: fresh applications in the now warm JVM
    setup = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tr.span("session.start"):
            sess.start()
        job = EventsJob(ctx, kind, inputs).build()
        setup.append(time.perf_counter() - t0)
    if ctx.trace:
        layers.update(_events_trace(ctx, job))
        layers["session.launch_s"] = launch_s
        layers.update(_setup_layers(ctx, job))
        layers["verify.sample_rows"] = sampled
        layers["verify.digest_match"] = int(digests["main"] == digests["main_ref"])
        if kind == "events_batch":
            # the streaming and rule-dispatch forms of the engine, which
            # the gated workloads do not run, measured layer by layer
            for phase in (stream_phase, rules_phase):
                phase_layers, offered, phase_failed = phase(ctx)
                layers.update(phase_layers)
                attempted += offered
                failed += phase_failed
            layers["exec.scaling_1core_ratio"] = _one_core_ratio(ctx, kind, inputs, median(walls))
        cold = _cold_compile(ctx, job)
        layers["filters.compile_s"] = cold["filters.compile_s"]
        layers["filters.compiled"] = cold["filters.compiled"]
    log(f"{kind}: passes {fmt(walls)} setup {fmt(setup)}")
    return Result(setup, n_events / median(walls), walls, attempted, failed, rss, layers)


def _setup_layers(ctx: Ctx, job: EventsJob) -> dict:
    tr = ctx.tracer
    # builds 2..SETUP_REPS+1 are the set-up samples (the first is the
    # JIT-cold build of the measured application)
    plan = _span_times(tr, "operators.plan")[1:SETUP_REPS + 1]
    fact = _span_times(tr, "factory.build")[1:SETUP_REPS + 1]
    start = _span_times(tr, "session.start")[:SETUP_REPS]
    # a second build in the same application: the config-reload path
    t_replan, _ = timed(EventsJob(ctx, job.kind, job.inputs).build)
    return {
        "operators.cold_plan_s": _span_times(tr, "operators.plan")[0],
        "session.start_s": median(start),
        "factory.build_s": median(fact),
        "factory.rules": sum(len(p.rules) for p in job.pc.processors),
        "operators.plan_s": median(plan),
        "operators.replan_s": t_replan,
    }


def _cold_compile(ctx: Ctx, job: EventsJob) -> dict:
    """``PipelineConfig.from_file`` and a cold ``compile_filter`` of every
    rule of the job's config, in a fresh application so the
    per-application memo is empty."""
    from logprep_spark.factory import PipelineConfig
    from logprep_spark.filters import compile_filter
    from logprep_spark.sources import JsonlInput

    ctx.session.start()
    t_fact, pc = timed(PipelineConfig.from_file, job.config_path)
    df = JsonlInput(job.events_path, gen.EVENT_SCHEMA).read(ctx.session.spark)
    rules = [r for p in pc.processors for r in p.rules]
    t0 = time.perf_counter()
    for r in rules:
        compile_filter(r.filter, df, r.regex_fields, r.sigma_fields)
    return {"filters.compile_s": time.perf_counter() - t0, "filters.compiled": len(rules),
            "factory.build_s": t_fact}


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _prefix_deltas(job: EventsJob, prefix: str) -> dict:
    """Per-processor cost: noop runs of growing processor prefixes over
    a cached parsed input; each processor is charged the difference."""
    from logprep_spark.operators import Pipeline

    out: dict = {}
    cached = job.input.cache()
    cached.count()
    procs = job.pc.processors
    dispatch = job.pc.pipeline.dispatch
    prev = base = _noop(cached)
    for k, proc in enumerate(procs, start=1):
        t = _noop(Pipeline(procs[:k], dispatch=dispatch).transform(cached))
        if proc.rule_type in PROCESSORS:
            out[f"{prefix}.{proc.rule_type}.exec_s"] = max(t - prev, 0.0)
        prev = t
    cached.unpersist()
    out[f"{prefix}.chain_exec_s"] = prev - base
    return out


def _events_trace(ctx: Ctx, job: EventsJob) -> dict:
    """Per-processor prefix deltas, source costs and the tracing
    overhead."""
    out = _prefix_deltas(job, "operators")
    full = min(_noop(job.main) for _ in range(2))
    out["sources.read_s"] = min(_noop(job.input) for _ in range(2))
    # the JSON write beyond computing the same frame into a noop sink
    out["sources.write_s"] = max(median(_span_times(ctx.tracer, "sources.write")) - full, 0.0)
    out["sources.side_out_s"] = median(_span_times(ctx.tracer, "sources.side_out"))
    out["sources.out_bytes"] = dir_bytes(ctx.out("main")) + dir_bytes(ctx.out("side"))
    # tracing overhead: passes alternating spans on and off
    on, off = [], []
    for i in range(4):
        ctx.tracer.enabled = i % 2 == 0
        (on if ctx.tracer.enabled else off).append(job.write(f"overhead{i}"))
    ctx.tracer.enabled = True
    out["trace.overhead_frac"] = median(on) / median(off) - 1.0
    return out


def rules_phase(ctx: Ctx) -> tuple[dict, int, int]:
    """The rule-dispatch config (``rules_heavy``), run in
    ``events_batch``'s traced run: cold filter compile in one fresh
    application, then a cold build, a same-application rebuild, passes
    and per-processor deltas in another. Returns (layers, events
    offered, sample rows wrong)."""
    inputs = gen.ensure_events(ctx.work, "rules_heavy", ctx.seed, RULES_HEAVY_N, **RULES_HEAVY_SIZES)
    events_list = gen.load_events(inputs)
    with open(os.path.join(inputs, "pipeline.json"), encoding="utf-8") as fh:
        config = json.load(fh)
    job = EventsJob(ctx, "rules_heavy", inputs)
    out = {f"rules.{k}": v for k, v in _cold_compile(ctx, job).items()}

    ctx.session.start()
    out["rules.plan_s"], job = timed(job.build)
    out["rules.replan_s"], _ = timed(EventsJob(ctx, "rules_heavy", inputs).build)
    for i in range(RULES_WARMUP_PASSES):  # the JVM is already warm from events_batch
        job.write(f"rules_warmup{i}")
    walls = [job.write(f"rules_pass{i}") for i in range(2)]
    out["rules.pass_s"] = median(walls)
    out["rules.events_per_s"] = RULES_HEAVY_N / median(walls)
    _n, wrong, _d = _verify_events(ctx, "rules_heavy", events_list, config)
    out.update(_prefix_deltas(job, "rules"))
    return out, RULES_HEAVY_N * len(walls), wrong


def _one_core_ratio(ctx: Ctx, kind: str, inputs: str, t_n: float) -> float:
    """Pass time at local[1] over pass time at local[nproc]."""
    ctx.session.start("local[1]")
    job = EventsJob(ctx, kind, inputs).build()
    job.write("one_core_warmup")
    t_1 = job.write("one_core")
    return t_1 / t_n


# --- events_stream ----------------------------------------------------


class Generator(threading.Thread):
    """Open-loop spool writer: every tick it writes the events whose
    scheduled creation time has passed, stamped with that time, no
    matter how far the stream has fallen behind."""

    TICK_S = 0.1

    def __init__(self, spool: str, events: list[dict], stages: list[tuple[float, float]]):
        super().__init__(daemon=True)
        self.spool = spool
        self.events = events
        self.stages = stages  # (rate, seconds), back to back
        self.sched: list[float] = []  # per emitted event
        self.stage_of: list[int] = []
        self.late: list[float] = []
        self.t0 = 0.0
        self.error: BaseException | None = None

    def schedule(self, t0: float) -> list[tuple[float, int]]:
        out, t = [], t0
        for s, (rate, secs) in enumerate(self.stages):
            n = int(rate * secs)
            out.extend((t + i / rate, s) for i in range(n))
            t += secs
        return out

    def run(self):
        try:
            self._run()
        except BaseException as exc:  # reported by the workload after join
            self.error = exc

    def _run(self):
        self.t0 = time.time() + 0.2
        plan = self.schedule(self.t0)[: len(self.events)]
        i, tick = 0, 0
        while i < len(plan):
            due = self.t0 + tick * self.TICK_S
            now = time.time()
            if now < due:
                time.sleep(due - now)
            now = time.time()
            j = i
            while j < len(plan) and plan[j][0] <= now:
                j += 1
            if j > i:
                lines = []
                for k in range(i, j):
                    ev = dict(self.events[k])
                    ev["gen_ts"] = plan[k][0]
                    lines.append(json.dumps(ev))
                    self.sched.append(plan[k][0])
                    self.stage_of.append(plan[k][1])
                tmp = os.path.join(self.spool, f".tick-{tick:06d}")
                with open(tmp, "w", encoding="utf-8") as fh:
                    fh.write("\n".join(lines) + "\n")
                os.rename(tmp, os.path.join(self.spool, f"tick-{tick:06d}.jsonl"))
                self.late.append(max(time.time() - plan[j - 1][0], 0.0))
                i = j
            tick += 1


def stream_phase(ctx: Ctx) -> tuple[dict, int, int]:
    """``events_batch``'s config as Structured Streaming, run in the
    traced run after the batch passes have warmed the JVM: spool files
    from the open-loop :class:`Generator` → ``JsonlInput.read_stream``
    → pipeline → ``IdempotentBatchOutput`` under a fixed processing-time
    trigger. Returns (layers, events offered, events not committed
    exactly once)."""
    from logprep_spark.factory import PipelineConfig
    from logprep_spark.sources import IdempotentBatchOutput, JsonlInput

    stages = [(STREAM_RATES[0], STREAM_WARMUP_S)] + [(r, STREAM_RUNG_S) for r in STREAM_RATES]
    n_total = int(sum(r * s for r, s in stages)) + 10
    inputs = gen.ensure_events(ctx.work, "events_stream", ctx.seed, n_total)
    events_list = gen.load_events(inputs)
    spool, sink, ckpt = ctx.out("spool"), ctx.out("stream_sink"), ctx.out("stream_ckpt")
    for d in (spool, sink, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(spool)

    spark = ctx.session.spark
    with ctx.tracer.span("streaming.plan"):
        pc = PipelineConfig.from_file(os.path.join(inputs, "pipeline.json"))
        stream = JsonlInput(spool, gen.EVENT_SCHEMA + ", gen_ts double").read_stream(spark)
        out_df = pc.transform(stream)
    output = IdempotentBatchOutput(sink)
    commits: dict[int, float] = {}
    commit_s: list[float] = []

    def commit(batch_df, batch_id):
        t0 = time.perf_counter()
        output.write_batch(batch_df, batch_id)
        commit_s.append(time.perf_counter() - t0)
        commits[batch_id] = time.time()

    gen_thread = Generator(spool, events_list, stages)
    query = (out_df.writeStream.foreachBatch(commit)
             .option("checkpointLocation", ckpt)
             .trigger(processingTime=f"{int(STREAM_TRIGGER_S * 1000)} milliseconds")
             .start())
    try:
        gen_thread.start()
        gen_thread.join(timeout=sum(s for _, s in stages) + 60)
        if gen_thread.is_alive() or gen_thread.error is not None:
            raise RuntimeError(f"stream generator did not finish: {gen_thread.error!r}")
        n_gen = len(gen_thread.sched)
        deadline = time.time() + 60
        while sum(p["numInputRows"] for p in query.recentProgress) < n_gen and time.time() < deadline:
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            time.sleep(0.1)
        query.processAllAvailable()
        progress = list(query.recentProgress)
    finally:
        query.stop()

    # exactly-once check and per-event latency from the committed batches
    expected = {i for i in range(n_gen) if events_list[i]["level"] != "debug"}
    seen: dict[int, int] = {}
    lat_by_stage: dict[int, list[float]] = {}
    commit_log = []
    for name in os.listdir(sink):
        if not name.startswith("batch-"):
            continue
        bid = int(name.split("-")[1])
        rows = read_json_lines(os.path.join(sink, name))
        commit_log.append((commits[bid], len(rows)))
        for r in rows:
            eid = r["event_id"]
            seen[eid] = seen.get(eid, 0) + 1
            lat_by_stage.setdefault(gen_thread.stage_of[eid], []).append(
                commits[bid] - gen_thread.sched[eid])
    failed = sum(1 for e in expected if seen.get(e) != 1) + sum(1 for e in seen if e not in expected)
    commit_log.sort()

    # stage 0 is the warm-up and is dropped; the rungs are stages 1..n
    rungs, t_stage = [], gen_thread.t0 + STREAM_WARMUP_S
    for s, (rate, secs) in enumerate(stages[1:], start=1):
        lats = lat_by_stage.get(s, [])
        p99 = percentile(lats, 99) if lats else float("inf")
        growth = (_backlog(gen_thread, commit_log, t_stage + secs)
                  - _backlog(gen_thread, commit_log, t_stage))
        rungs.append({"rate": rate, "events": len(lats), "p50_s": percentile(lats, 50) if lats else None,
                      "p99_s": p99, "backlog_growth": growth,
                      "ok": p99 <= STREAM_P99_LIMIT_S and growth <= rate * STREAM_TRIGGER_S})
        t_stage += secs
    passing = [r for r in rungs if r["ok"]]
    fixed = lat_by_stage.get(STREAM_FIXED_RUNG + 1, [0.0])
    layers = _stream_layers(progress, commit_s, gen_thread, commit_log, stages)
    layers.update({
        "streaming.latency_p50_s": percentile(fixed, 50),
        "streaming.latency_p99_s": percentile(fixed, 99),
        "streaming.sustained_events_per_s": passing[-1]["rate"] if passing else 0,
        "streaming.rungs_passed": len(passing),
        "streaming.rungs": rungs,
    })
    return layers, n_gen, failed


def _backlog(gen_thread: Generator, commit_log: list[tuple[float, int]], t: float) -> int:
    """Generated minus committed rows at wall time ``t`` (debug events are
    deleted by the pipeline and never committed, so both sides count
    rows the sink should receive)."""
    import bisect

    n_gen = bisect.bisect_right(gen_thread.sched, t)
    return n_gen - sum(n for ct, n in commit_log if ct <= t)


def _stream_layers(progress, commit_s, gen_thread, commit_log, stages) -> dict:
    measured = [p for p in progress if p["numInputRows"] > 0][2:]  # first triggers dropped

    def dur(key):
        return median([p["durationMs"].get(key, 0) / 1000.0 for p in measured]) if measured else 0.0
    # backlog slope over the measured window, rows/s, from least squares
    t_a = gen_thread.t0 + STREAM_WARMUP_S
    t_b = gen_thread.t0 + sum(s for _, s in stages)
    pts = [(t, _backlog(gen_thread, commit_log, t)) for t in
           [t_a + i * (t_b - t_a) / 20 for i in range(21)]]
    mt = sum(t for t, _ in pts) / len(pts)
    mb = sum(b for _, b in pts) / len(pts)
    slope = sum((t - mt) * (b - mb) for t, b in pts) / sum((t - mt) ** 2 for t, _ in pts)
    return {
        "streaming.trigger_s": dur("triggerExecution"),
        "streaming.planning_s": dur("queryPlanning"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.batches": len(progress),
        "streaming.batch_rows": median([p["numInputRows"] for p in measured]) if measured else 0,
        "streaming.dropped_triggers": 2,  # cold first triggers left out of the trigger medians
        "streaming.commit_s": median(commit_s),
        "streaming.backlog_rows": slope,
        "gen.late_s": percentile(gen_thread.late, 99),
    }


# --- corpus_v3 --------------------------------------------------------

CORPUS_YAML = """\
text_col: text
pipeline:
  - op: filter
    where: "doc_id % 5 != 0"
  - op: gopher_filter
    min_stop_hits: 1
  - op: leakage_split
    threshold_milli: 700
  - op: cluster_dedup
    threshold_milli: 700
  - op: decontaminate
    path: "{bloom}"
    k: 13
    m: 524288
    j: 3
  - op: bpe_train_token_count
    n_merges: 6
    rounds: 2
    train_where: "split = 'train'"
"""


def _corpus_inputs(ctx: Ctx) -> tuple[str, str, str]:
    """Documents parquet, the Bloom artifact and the YAML; built
    untimed in the first application and cached per (seed, size)."""
    from logprep_spark.functions import dedup as dd
    from logprep_spark.functions import sketch as sk

    d = gen.ensure_docs(ctx.work, ctx.seed, CORPUS_DOCS)
    spark = ctx.session.spark
    docs_path = os.path.join(d, "documents.parquet")
    bloom = os.path.join(d, "bench_bloom")
    cfg = os.path.join(d, "pretrain.yml")
    if not os.path.exists(os.path.join(d, "ready")):
        docs = spark.read.schema("doc_id long, text string").json(os.path.join(d, "documents.jsonl"))
        docs.coalesce(1).write.mode("overwrite").parquet(docs_path)
        bench = spark.read.parquet(docs_path).filter("doc_id % 5 = 0")
        sk.bloom_bits(dd.window_hashes(bench, 13).select("window_hash").distinct(),
                      "window_hash", m=524288, j=3).write.mode("overwrite").parquet(bloom)
        with open(cfg, "w", encoding="utf-8") as fh:
            fh.write(CORPUS_YAML.format(bloom=bloom))
        open(os.path.join(d, "ready"), "w").close()
    return d, docs_path, cfg


def _split_totals(rows) -> dict:
    return {r["split"]: (int(r["n"]), int(r["tok"])) for r in rows}


def corpus_v3(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from logprep_spark.corpus import CorpusPipeline
    from logprep_spark.plans import catalog

    sess = ctx.session
    tr = ctx.tracer
    launch_s = sess.start()
    d, docs_path, cfg = _corpus_inputs(ctx)
    # set-up: a fresh application up to a pipeline and an input frame;
    # the build with its eager jobs is part of every pass
    setup = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tr.span("session.start"):
            sess.start()
        with tr.span("factory.build"):
            CorpusPipeline.from_file(cfg)
        with tr.span("sources.read_plan"):
            sess.spark.read.parquet(docs_path)
        setup.append(time.perf_counter() - t0)
    spark = sess.spark
    # reference: the catalog's hand-built pipeline_pretrain_v3 over the
    # same documents; it also warms the JIT for the measured passes
    want = {r["split"]: (int(r["n_final"]), int(r["bpe_tokens"]))
            for r in catalog.queries()["pipeline_pretrain_v3"](spark, d).collect()}
    n_docs = CORPUS_DOCS

    walls, build_groups, exec_groups, builds, failed = [], [], [], [], 0
    obs_counts: dict = {}
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(walls) < CORPUS_MIN_PASSES:
        i = len(walls)
        t0 = time.perf_counter()
        with tr.span("pass"):
            with job_group(sess.sc, f"build{i}"), tr.span("corpus.build"):
                pipe = CorpusPipeline.from_file(cfg)
                out, obs = pipe.transform_observed(spark.read.parquet(docs_path))
            t1 = time.perf_counter()
            with job_group(sess.sc, f"exec{i}"), tr.span("corpus.exec"):
                out.write.mode("overwrite").parquet(ctx.out("corpus"))
        walls.append(time.perf_counter() - t0)
        builds.append(t1 - t0)
        build_groups.append(f"build{i}")
        exec_groups.append(f"exec{i}")
        obs_counts = {k: v.get["n_docs"] for k, v in obs.items()}
        got = _split_totals(spark.read.parquet(ctx.out("corpus")).groupBy("split").agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_bpe_tokens").alias("tok")).collect())
        if got != want:
            failed += n_docs
    rss = sess.peak_rss_mb()
    layers: dict = {}
    if ctx.trace:
        bstats = [group_stats(sess.sc, g) for g in build_groups]
        estats = [group_stats(sess.sc, g) for g in exec_groups]
        layers.update(_exec_layers(ctx, exec_groups, [w - b for w, b in zip(walls, builds)]))
        layers.update({
            "corpus.build_s": median(builds),
            "corpus.build_jobs": median([b["jobs"] for b in bstats]),
            "corpus.build_job_s": median([b["job_s"] for b in bstats]),
            "corpus.exec_s": median([w - b for w, b in zip(walls, builds)]),
            "corpus.exec_jobs": median([e["jobs"] for e in estats]),
            "operators.plan_jobs": median([b["jobs"] for b in bstats]),
        })
        layers.update(_corpus_steps(ctx, cfg, docs_path, obs_counts))
        layers.update(_functions_layers(ctx, docs_path))
        layers["sources.out_bytes"] = dir_bytes(ctx.out("corpus"))
    if ctx.trace:
        layers["session.launch_s"] = launch_s
        layers["session.start_s"] = median(_span_times(tr, "session.start"))
        layers["factory.build_s"] = median(_span_times(tr, "factory.build"))
    log(f"corpus_v3: passes {fmt(walls)} builds {fmt(builds)} setup {fmt(setup)}")
    return Result(setup, n_docs / median(walls), walls, n_docs * len(walls), failed, rss, layers)


def _corpus_steps(ctx: Ctx, cfg: str, docs_path: str, obs_counts: dict) -> dict:
    """Each step built on its own, under its own job group."""
    import yaml

    from logprep_spark.corpus import CorpusPipeline

    sess = ctx.session
    with open(cfg, encoding="utf-8") as fh:
        spec = yaml.safe_load(fh)
    frame = sess.spark.read.parquet(docs_path)
    out: dict = {}
    for i, step in enumerate(spec["pipeline"]):
        op = step["op"]
        group = f"step{i}:{op}"
        with job_group(sess.sc, group), ctx.tracer.span(f"corpus.{op}.build"):
            t, frame = timed(CorpusPipeline([step], text_col=spec["text_col"]).transform, frame)
        out[f"corpus.{op}.build_s"] = t
        out[f"corpus.{op}.build_jobs"] = group_stats(sess.sc, group)["jobs"]
        out[f"corpus.{op}.docs_out"] = obs_counts.get(f"{i}:{op}", 0)
    return out


def _functions_layers(ctx: Ctx, docs_path: str) -> dict:
    from pyspark.sql import functions as F

    from logprep_spark.functions import dedup as dd
    from logprep_spark.functions import text as tx

    docs = ctx.session.spark.read.parquet(docs_path).cache()
    docs.count()
    runs = {
        "functions.window_hashes_s": lambda: dd.window_hashes(docs, 13),
        "functions.tokens_s": lambda: docs.select("doc_id", tx.tokens(F.col("text")).alias("t")),
        "functions.shingle_arrays_s": lambda: dd.shingle_arrays(docs),
        "functions.minhash_bands_s": lambda: dd.minhash_bands(docs),
    }
    out = {}
    for name, make in runs.items():
        with ctx.tracer.span(name[:-2]):
            out[name] = min(_noop(make()) for _ in range(2))
    docs.unpersist()
    return out
