"""The benchmark's workloads. Both run the same fixed shape:

    session -> SETUP_REPS x (KB build + TF-IDF fit + cache fill)
            -> the process's first link call
            -> cluster_links on its output, --seconds / CLUSTER_CALL_S times
            -> output checks (untimed)

transcripts: golden 18-alias KB, generator turns with no spans supplied;
  the CLI `link` path (gazetteer extraction, JW rescue on, parquet out).
kb_scale: synthetic KB, one supplied span per turn; link_mentions exact leg.

The traced run (--trace 1) repeats that shape with spans on, makes a warm
link call, calls each layer's public function on the same inputs (one span
each) and runs the legs the timed runs leave out: the blocked leg on
kb_scale, the `serve` HTTP surface and the streaming surface on
transcripts. perfbench/WORKLOADS.md says why.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request

from perfbench import checks, inputs
from perfbench.system import PeakRss, cpu_seconds
from perfbench.trace import Tracer

SETUP_REPS = 3
CLUSTER_REPS = 3  # at least
CLUSTER_CALL_S = 2  # nominal seconds per cluster_links call on this input size
SIZES = {
    "transcripts": {"turns": 4_000, "files": 2},
    "kb_scale": {"entities": 2_000, "turns": 1_500},
}
KB_SCALE_F1_FLOOR = 0.85
BLOCKED_F1_FLOOR = 0.80
SERVE_DOCS = 32  # the reference RemoteAnnLinker minibatch size
SERVE_REQUESTS = 3  # timed, after one warm-up request; closed loop, 1 client


class Run:
    """State of one benchmark process: workload, tracer, counters, metrics."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, workdir: str, cores: int):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.workdir = workdir
        self.cores = cores
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def check(self, name: str, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(f"{name}: {e}" for e in errs)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tail(xs):
    """The highest percentile with at least ten samples beyond it; with
    fewer than eleven samples no percentile qualifies and this is the max."""
    xs = sorted(xs)
    if len(xs) < 11:
        return xs[-1] if xs else 0.0
    return xs[len(xs) - 11]


def _materialize(*dfs) -> None:
    for df in dfs:
        df.persist().count()


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


# -- setup ----------------------------------------------------------------------

def _session(run: Run):
    from spacy_ann_linker_spark.session import get_spark

    local = os.path.join(run.workdir, "tmp")
    os.makedirs(local, exist_ok=True)
    with run.span("session"):
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench.{run.workload}", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file: HotSpot writes it under /tmp whatever the tmpdir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(run.workdir, "warehouse"),
            # the status store the traced run reads; same in both runs
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        })
        start_s = time.perf_counter() - t
    run.tracer.bind(spark)
    run.layers["session.start_s"] = start_s
    return spark, start_s


def _build_model(run: Run, spark, inp: inputs.Inputs):
    """One setup repetition: KB build, TF-IDF fit, model tables cached."""
    from spacy_ann_linker_spark.candidates.generate import fit_candidate_model
    from spacy_ann_linker_spark.kb.build import build_kb
    from spacy_ann_linker_spark.pipeline import LinkageModel

    with run.span("kb.build"):
        if inp.entities_path is None:
            from spacy_ann_linker_spark.data import golden_kb

            ents, als = golden_kb.load_entities(spark), golden_kb.load_aliases(spark)
        else:
            ents, als = spark.read.parquet(inp.entities_path), spark.read.parquet(inp.aliases_path)
        kb = build_kb(ents, als)
        _materialize(kb.entities, kb.alias_map, kb.short_aliases)
    with run.span("vectorize.fit"):
        cand = fit_candidate_model(kb, min_df=1)
        _materialize(cand.tfidf.vocab, cand.alias_vectors, cand.aliases)
    return LinkageModel(kb=kb, cand=cand)


def _release_model(model) -> None:
    for df in (model.kb.entities, model.kb.alias_map, model.kb.short_aliases,
               model.cand.tfidf.vocab, model.cand.alias_vectors, model.cand.aliases):
        df.unpersist()


def _setup(run: Run, spark, inp, session_s: float):
    times = []
    for rep in range(SETUP_REPS):
        with run.span("setup", rep=rep):
            t = time.perf_counter()
            model = _build_model(run, spark, inp)
            times.append(time.perf_counter() - t)
        if rep < SETUP_REPS - 1:
            _release_model(model)
        run.attempted += 1
    run.e2e["setup_s"] = session_s + _median(times)
    if run.tracer.enabled:
        run.layers["kb.build_s"] = _median([s["wall_s"] for s in run.tracer.find("kb.build")])
        run.layers["vectorize.fit_s"] = _median([s["wall_s"] for s in run.tracer.find("vectorize.fit")])
    return model


# -- link legs ------------------------------------------------------------------

def _link_call(run: Run, spark, model, inp, use_blocking: bool = False):
    """The lazy link DataFrame. Building it runs the library's eager memo
    materializations; the write afterwards runs the output pass."""
    turns = spark.read.parquet(inp.turns_dir)
    if run.workload == "transcripts":
        from spacy_ann_linker_spark.pipeline import link_transcripts

        return link_transcripts(model, turns, fuzzy_rescue=True, use_blocking=use_blocking)
    from spacy_ann_linker_spark.link.linker import link_mentions

    mentions = spark.read.parquet(inp.mentions_path)
    return link_mentions(mentions, turns, model.kb, model.cand, fuzzy_rescue=True,
                         use_blocking=use_blocking)


def _link_op(run: Run, spark, model, inp, i: int, name: str = "link", use_blocking: bool = False):
    """One link leg: call + parquet write. -> (wall s, container CPU s, out path, span)"""
    from spacy_ann_linker_spark.link.linker import release_memos

    out = os.path.join(run.workdir, f"{name}-{i}")
    run.attempted += 1
    with run.span(name, op=i) as sp:
        c0, t0 = cpu_seconds(), time.perf_counter()
        with run.span(f"{name}.memo"):
            links = _link_call(run, spark, model, inp, use_blocking)
        with run.span(f"{name}.output"):
            links.write.mode("overwrite").parquet(out)
        wall, cpu = time.perf_counter() - t0, cpu_seconds() - c0
    release_memos()
    return wall, cpu, out, sp


def _timed_section(run: Run, spark, model, inp):
    """The measured section: the process's first link call (what every CLI
    `link` invocation and jobs/link_job.py pay), then cluster_links on its
    output, --seconds / CLUSTER_CALL_S times. The count is fixed, not timed,
    so every run stops at the same point of the JVM's JIT warm-up, which
    is still steep this early in a process. A warm link call does not fit
    the run's time budget next to the cold one; the traced run measures
    it. cluster_links' time is a per-layer number only: across seeds its
    quartile spread reached the end-to-end bound (see WORKLOADS.md)."""
    from spacy_ann_linker_spark.pipeline import cluster_links

    wall, cpu, out, link_span = _link_op(run, spark, model, inp, 0)
    run.e2e["turns_per_s"] = inp.n_turns / wall
    run.e2e["link_cpu_s"] = cpu
    walls = []
    for _ in range(max(CLUSTER_REPS, run.seconds // CLUSTER_CALL_S)):
        run.attempted += 1
        with run.span("cluster.cc", rep=len(walls)):
            t = time.perf_counter()
            cluster_links(spark.read.parquet(out)).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t)
    run.layers["cluster.cc_s"] = _median(walls)
    return out, link_span


# -- checks ---------------------------------------------------------------------

_LINK_COLS = ["conv_id", "turn_idx", "mention_id", "start", "end", "text", "alias",
              "similarity", "entity_id"]


def _collect_links(spark, path: str) -> list[dict]:
    return _rows(spark.read.parquet(path).select(*_LINK_COLS))


def _library_f1(spark, path: str, inp) -> float:
    from spacy_ann_linker_spark.evaluate import pairwise_f1

    return pairwise_f1(spark.read.parquet(path), spark.read.parquet(inp.labels_path))["f1"]


def _check_transcripts(run: Run, spark, inp, path: str) -> list[dict]:
    links = _collect_links(spark, path)
    lib_f1 = _library_f1(spark, path, inp)
    run.e2e["pairwise_f1"] = lib_f1
    expected = checks.transcripts_expected(inp.labels, inp.alias_entities)
    run.check("transcripts", checks.check_transcripts(links, expected, lib_f1, inp.labels))
    run.check("transcripts", checks.self_test(
        "transcripts", lambda bad: checks.check_transcripts(bad, expected, None, inp.labels),
        links, lambda r: True, "not-an-entity"))
    return links


def _kb_scale_checker(inp):
    import pyarrow.parquet as pq

    mentions = pq.read_table(inp.mentions_path).to_pylist()
    index = checks.AliasIndex(inp.alias_strings)

    def check(links, lib_f1, floor):
        return checks.check_kb_scale(links, mentions, inp.alias_entities, index, inp.labels,
                                     lib_f1, floor)

    return check


def _check_kb_scale(run: Run, spark, inp, path: str, check) -> list[dict]:
    links = _collect_links(spark, path)
    lib_f1 = _library_f1(spark, path, inp)
    run.e2e["pairwise_f1"] = lib_f1
    run.check("kb_scale", check(links, lib_f1, KB_SCALE_F1_FLOOR))
    verbatim = {m["mention"] for m in inp.labels} & set(inp.alias_strings)
    run.check("kb_scale", checks.self_test(
        "kb_scale", lambda bad: check(bad, None, 0.0), links,
        lambda r: r["text"] in verbatim and r["similarity"] == 1.0, "e-not-an-entity"))
    return links


# -- traced-only legs -----------------------------------------------------------

def _layer_probes(run: Run, spark, model, inp, links: list[dict]) -> None:
    """Each layer's public function on this workload's inputs, one span each."""
    from spacy_ann_linker_spark.candidates.generate import generate_best_candidates
    from spacy_ann_linker_spark.link.linker import best_aliases, context_vectors, release_memos
    from spacy_ann_linker_spark.mentions.extract import extract_mentions_gazetteer
    from spacy_ann_linker_spark.vectorize import tfidf

    turns = spark.read.parquet(inp.turns_dir)
    if run.workload == "transcripts":
        with run.span("mentions.extract") as sp:
            mentions = extract_mentions_gazetteer(turns, model.cand.aliases).persist()
            found = mentions.count()
        run.layers.update({"mentions.extract_s": sp["wall_s"], "mentions.extract_cpu_s": sp["cpu_s"],
                           "mentions.found": found})
    else:
        mentions = spark.read.parquet(inp.mentions_path).persist()
        found = mentions.count()
    texts = mentions.select("text").distinct().persist()
    n_texts = texts.count()
    run.layers["link.distinct_text_ratio"] = n_texts / found if found else 0.0

    with run.span("vectorize.transform") as sp:
        grams = tfidf.transform(model.cand.tfidf, texts, "text", "text").count()
    run.layers.update({"vectorize.transform_s": sp["wall_s"],
                       "vectorize.grams_per_text": grams / n_texts if n_texts else 0.0})

    with run.span("candidates.best") as best_sp:
        best = {r["text"]: r for r in _rows(generate_best_candidates(model.cand, texts, exact_fast_path=True))}
    hits = {t for t, r in best.items() if r["similarity"] > checks.THRESHOLD}
    alias_set = set(inp.alias_strings)
    run.layers.update({
        "candidates.fastpath_ratio": sum(t in alias_set for t in best) / n_texts if n_texts else 0.0,
        "candidates.hit_ratio": len(hits) / n_texts if n_texts else 0.0,
    })

    with run.span("link.rescue") as sp:
        rescued_rows = _rows(best_aliases(model.cand, texts, exact_fast_path=True, fuzzy_rescue=True))
        release_memos()
    attempted = n_texts - len(hits)
    rescued = len({r["text"] for r in rescued_rows} - hits)
    run.layers.update({
        # the rescue call repeats the candidate pass, then adds the JW stage
        "link.rescue_s": max(0.0, sp["wall_s"] - best_sp["wall_s"]),
        "link.rescue_attempted": attempted,
        "link.rescue_yield": rescued / attempted if attempted else 0.0,
    })

    if run.workload == "kb_scale":
        with run.span("candidates.blocked_best") as sp:
            blocked = {r["text"]: r for r in _rows(generate_best_candidates(
                model.cand, texts, exact_fast_path=True, use_blocking=True))}

        def top(rows, t):
            r = rows.get(t)
            return r["alias"] if r is not None and r["similarity"] > checks.THRESHOLD else None

        run.layers.update({
            "candidates.blocked_best_s": sp["wall_s"],
            "candidates.blocked_agreement":
                sum(top(blocked, t) == top(best, t) for t in best) / n_texts if n_texts else 0.0,
        })

    linked_turns = spark.createDataFrame(
        sorted({(r["conv_id"], r["turn_idx"]) for r in links}), "conv_id string, turn_idx int")
    with run.span("link.embed") as sp:
        embedded = context_vectors(turns.join(linked_turns, ["conv_id", "turn_idx"], "left_semi")).count()
    run.layers.update({"link.embed_s": sp["wall_s"], "link.embed_cpu_s": sp["cpu_s"],
                       "link.turns_embedded": embedded})
    mentions.unpersist()
    texts.unpersist()


def _blocked_leg(run: Run, spark, model, inp, check) -> None:
    wall, cpu, out, _ = _link_op(run, spark, model, inp, 0, name="link.blocked", use_blocking=True)
    links = _collect_links(spark, out)
    f1 = _library_f1(spark, out, inp)
    run.check("blocked", check(links, f1, BLOCKED_F1_FLOOR))
    run.layers.update({"blocked.turns_per_s": inp.n_turns / wall, "blocked.cpu_s": cpu,
                       "blocked.pairwise_f1": f1})


def _serve_leg(run: Run, spark, model, inp) -> list[dict]:
    """POST /link against link.serve.make_server on 127.0.0.1: one client,
    closed loop (send a 32-document batch, wait for the reply).
    -> the timed requests' spans"""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from spacy_ann_linker_spark.link.linker import link_mentions
    from spacy_ann_linker_spark.link.serve import link_documents, make_server

    turns_by_key = {}
    for part in sorted(os.listdir(inp.turns_dir)):
        for t in pq.read_table(os.path.join(inp.turns_dir, part)).to_pylist():
            turns_by_key[(t["conv_id"], t["turn_idx"])] = t["text"]
    labels = inp.labels[:(SERVE_REQUESTS + 1) * SERVE_DOCS]
    batches = [labels[i:i + SERVE_DOCS] for i in range(0, len(labels), SERVE_DOCS)]

    def doc(g):
        return {"context": turns_by_key[(g["conv_id"], g["turn_idx"])],
                "spans": [{"text": g["mention"], "start": g["start"], "end": g["end"], "label": None}]}

    server = make_server(spark, model, "127.0.0.1", 0)
    port = server.server_address[1]
    thread = threading.Thread(target=server.serve_forever, name="perfbench-serve", daemon=True)
    thread.start()
    served: dict[tuple, str | None] = {}
    lat, req_spans = [], []
    try:
        for i, batch in enumerate(batches):
            body = json.dumps({"documents": [doc(g) for g in batch]}).encode()
            req = urllib.request.Request(f"http://127.0.0.1:{port}/link?similarity_threshold=0.7",
                                         data=body, headers={"Content-Type": "application/json"})
            run.attempted += 1
            with run.span("serve.request", warmup=i == 0) as sp:
                t = time.perf_counter()
                try:
                    with urllib.request.urlopen(req, timeout=120) as resp:
                        status, payload = resp.status, json.loads(resp.read())
                except OSError as ex:  # HTTPError included: non-200 counts as failed
                    status, payload = getattr(ex, "code", None), None
                ms = (time.perf_counter() - t) * 1000
            if status != 200:
                run.failed += 1
                run.errors.append(f"serve: request {i} returned {status}")
                continue
            for g, d in zip(batch, payload["documents"]):
                served[(g["conv_id"], g["turn_idx"], g["start"], g["end"])] = d["spans"][0]["id"]
            if i > 0:
                lat.append(ms)
                req_spans.append(sp)
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=30)

    with run.span("serve.handler") as sp:
        link_documents(spark, model, [doc(g) for g in batches[-1]], threshold=0.7)
    run.layers.update({
        "serve.request_p50_ms": _median(lat),
        "serve.request_tail_ms": _tail(lat),
        "serve.handler_ms": sp["wall_s"] * 1000,
    })

    # batch link_mentions over the same documents, same threshold
    keys = [(g["conv_id"], g["turn_idx"], g["start"], g["end"], g["mention"]) for g in labels]
    mentions = spark.createDataFrame(
        [(c, t, m, s, e, None) for c, t, s, e, m in keys],
        "conv_id string, turn_idx int, text string, start int, end int, label string",
    ).withColumn("mention_id", F.xxhash64("conv_id", "turn_idx", "start"))
    turns = spark.read.parquet(inp.turns_dir).join(
        mentions.select("conv_id", "turn_idx").distinct(), ["conv_id", "turn_idx"], "left_semi")
    batch = {(r["conv_id"], r["turn_idx"], r["start"], r["end"]): r["entity_id"]
             for r in link_mentions(mentions, turns, model.kb, model.cand, threshold=0.7).collect()}
    want = {k[:4]: batch.get(k[:4]) for k in keys}
    run.check("serve", checks.check_same_links("serve", served, want))
    run.check("serve", checks.self_test_same_links("serve", served, want))
    return req_spans


def _stream_leg(run: Run, spark, model, inp, batch_links: list[dict]) -> tuple[dict, int]:
    """start_full_link_stream over the turn files, one file per trigger,
    drained with processAllAvailable. -> (stream span, batches run)"""
    from spacy_ann_linker_spark.streaming.link_stream import (
        read_transcript_stream, start_full_link_stream,
    )

    out = os.path.join(run.workdir, "stream-out")
    stream = read_transcript_stream(spark, inp.turns_dir, max_files=1)
    run.attempted += 1
    with run.span("stream") as stream_span:
        q = start_full_link_stream(stream, model, inp.alias_strings, out,
                                   os.path.join(run.workdir, "stream-ckpt"))
        try:
            q.processAllAvailable()
        finally:
            progress = list(q.recentProgress)
            q.stop()
    batches = [p for p in progress if p.numInputRows > 0]
    trig = [p.durationMs.get("triggerExecution", 0) for p in batches]
    sink_bytes = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(out) for f in fs if f.endswith(".parquet"))
    run.layers.update({
        "stream.batch_p50_ms": _median(trig),
        "stream.batch_tail_ms": _tail(trig),
        "stream.turns_per_s": inp.n_turns / (sum(trig) / 1000) if trig else 0.0,
        "stream.add_batch_ms": _median([p.durationMs.get("addBatch", 0) for p in batches]),
        "stream.source_reads_per_row": sum(p.numInputRows for p in batches) / inp.n_turns,
        "stream.sink_bytes_per_turn": sink_bytes / inp.n_turns,
    })
    got = {(r["conv_id"], r["turn_idx"], r["start"], r["text"]): r["entity_id"]
           for r in spark.read.parquet(out).collect()}
    want = {checks.link_key(r): r["entity_id"] for r in batch_links}
    run.check("stream", checks.check_same_links("stream", got, want))
    run.check("stream", checks.self_test_same_links("stream", got, want))
    return stream_span, len(batches)


# -- per-layer metrics from spans ---------------------------------------------------

SPAN_FIELDS = ("tasks", "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes")


def _span_layers(run: Run, link_span: dict, serve_spans: list[dict], stream: tuple | None) -> None:
    """Per-layer metrics of the measured (first) link call and the other
    spans, after Spark job attribution."""
    t = run.tracer
    t.attribute()
    L = run.layers
    memo, output = t.children(link_span["id"])
    for name, sp in (("link", link_span), ("link.memo", memo), ("link.output", output),
                     ("cluster.cc", t.find("cluster.cc")[-1])):
        for f in SPAN_FIELDS:
            L[f"{name}.{f}"] = sp[f]
    L["link.memo_build_s"] = memo["wall_s"]
    L["link.memo_jobs"] = memo["jobs"]
    L["link.job_idle_s"] = link_span["job_idle_s"]
    L["link.core_utilization"] = link_span["executor_cpu_s"] / (link_span["wall_s"] * run.cores)
    L["cluster.jobs"] = t.find("cluster.cc")[-1]["jobs"]
    best = t.find("candidates.best")[-1]
    L["candidates.best_s"] = best["wall_s"]
    L["candidates.best_cpu_s"] = best["cpu_s"]
    L["candidates.shuffle_bytes"] = best["shuffle_read_bytes"] + best["shuffle_write_bytes"]
    # the output pass minus the layers it contains that are timed on their own
    inner = L.get("link.embed_s", 0.0) + L.get("mentions.extract_s", 0.0)
    L["link.score_self_s"] = max(0.0, output["wall_s"] - inner)
    if serve_spans:
        # the HTTP server, JSON and handler thread beyond the direct call
        L["serve.http_ms"] = max(0.0, L["serve.request_p50_ms"] - L["serve.handler_ms"])
        L["serve.jobs_per_request"] = _median([s["jobs"] for s in serve_spans])
        L["serve.tasks_per_request"] = _median([s["tasks"] for s in serve_spans])
    if stream is not None and stream[1]:
        L["stream.jobs_per_batch"] = stream[0]["jobs"] / stream[1]


# -- entry --------------------------------------------------------------------------

def run_workload(run: Run) -> None:
    rss = PeakRss().start()
    size = SIZES[run.workload]
    if run.workload == "transcripts":
        inp = inputs.transcripts(run.workdir, size["turns"], run.seed, size["files"])
    else:
        inp = inputs.kb_scale(run.workdir, size["entities"], size["turns"], run.seed)
    spark, session_s = _session(run)
    try:
        model = _setup(run, spark, inp, session_s)
        out, link_span = _timed_section(run, spark, model, inp)
        if run.workload == "transcripts":
            links = _check_transcripts(run, spark, inp, out)
        else:
            kb_check = _kb_scale_checker(inp)
            links = _check_kb_scale(run, spark, inp, out, kb_check)
        if run.tracer.enabled:
            run.layers["cluster.edges"] = len({(r["text"], r["entity_id"]) for r in links})
            run.layers["trace.turns_per_s"] = run.e2e["turns_per_s"]
            run.layers["trace.span_overhead_s"] = run.tracer.overhead_s
            warm_wall, _, _, _ = _link_op(run, spark, model, inp, 1)
            run.layers["link.cold_s"] = link_span["wall_s"]
            run.layers["link.warm_s"] = warm_wall
            _layer_probes(run, spark, model, inp, links)
            serve_spans, stream = [], None
            if run.workload == "kb_scale":
                _blocked_leg(run, spark, model, inp, kb_check)
            else:
                serve_spans = _serve_leg(run, spark, model, inp)
                stream = _stream_leg(run, spark, model, inp, links)
            _span_layers(run, link_span, serve_spans, stream)
    finally:
        spark.stop()
    run.e2e["peak_rss_mb"] = rss.stop()
