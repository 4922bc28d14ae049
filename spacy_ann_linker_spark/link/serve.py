"""`serve` — local HTTP endpoint over a saved LinkageModel (reference
command-surface parity: `spacy_ann serve`, cli/serve.py:31-59, FastAPI
`POST /link`, api/app.py:37-79).

The engine's production path is the batch/streaming job (the reference's
"KB too big for one process" motivation, remote_ann_linker.py:21-23, is what
the distributed join solves), but the reference ALSO ships a request/response
server for interactive use — this is that surface, stdlib-only
(http.server; FastAPI/uvicorn are not in this container and a thin JSON
endpoint needs neither).

Request/response shape is the reference's LinkingRequest/LinkingResponse
(api/types.py:20-40): documents of {spans: [{text,start,end,label}],
context}; linked spans gain an `id`. Two documented deviations from the
reference handler:
  * spans whose offsets don't slice cleanly are dropped from LINKING but
    still echoed in the response; the reference's `doc.spans[i] = ents[i]`
    loop (app.py:71-74) misaligns ids when char_span() drops a span — a
    bug we do not reproduce (ids are matched back by (start, end)).
  * `similarity_threshold` (default 0.65, app.py:42) is forwarded to the
    linker's threshold and INTENTIONALLY DIVERGES: here the requested
    threshold is honored. In the reference the request value mutates
    cg.threshold (app.py:68) which `_require_candidates` then never reads —
    the hardcoded 0.7 ann_linker threshold still gates (ann_linker.py:82),
    so the REST knob is a documented no-op there (BASELINE.md quirk list;
    SURVEY F4/F5 notes). We preserve the parameter surface, not the bug.

Concurrency model (documented divergence from the reference): the reference
serves with gunicorn prefork, cpu*2+1 WORKER PROCESSES each holding its own
nmslib index (cli/serve.py:15,52-59) — scale-out there is web workers. A
Spark driver inverts that: the session object is one-per-JVM and the
executors (not web workers) are the scale-out, so this server is a single
process with ThreadingHTTPServer handler THREADS sharing the one
SparkSession. Spark's SQL execution is thread-safe per action; request
isolation for cached state comes from memo_scope() (contextvar-scoped memo
registration — a handler releases only its own memos; racing /link POSTs
are stress-tested in tests/test_serve.py). A gunicorn-style --n-workers
prefork would mean N full SparkSessions on one host — the wrong resource
model; run N driver hosts behind a balancer if process-level isolation is
required.
"""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def link_documents(
    spark: SparkSession, model, documents: list[dict], threshold: float = 0.65
) -> list[dict]:
    """Pure request handler: LinkingRequest documents -> LinkingResponse
    documents (testable without a socket)."""
    from spacy_ann_linker_spark.data.golden_kb import _local_relation
    from spacy_ann_linker_spark.link.linker import link_mentions, memo_scope

    turn_rows = []
    mention_rows = []
    for i, doc in enumerate(documents):
        ctx = doc.get("context") or ""
        conv = f"d{i}"
        turn_rows.append({"conv_id": conv, "turn_idx": 0, "role": "user", "text": ctx, "tool": ""})
        for s in doc.get("spans") or []:
            start, end = int(s.get("start", -1)), int(s.get("end", -1))
            if 0 <= start < end <= len(ctx):
                mention_rows.append(
                    {"conv_id": conv, "turn_idx": 0, "text": ctx[start:end],
                     "start": start, "end": end, "label": s.get("label")}
                )
    turn_cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    turns = _local_relation(
        spark, turn_rows, turn_cols,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    mention_cols = ["conv_id", "turn_idx", "text", "start", "end", "label"]
    mentions = _local_relation(
        spark, mention_rows, mention_cols,
        "conv_id string, turn_idx int, text string, start int, end int, label string",
    ).withColumn("mention_id", F.xxhash64("conv_id", "turn_idx", "start"))

    # long-running server: free THIS request's memo caches on exit — scoped,
    # so a concurrent /link handler thread's in-flight memos are untouched
    # (ThreadingHTTPServer runs handlers concurrently; a global release here
    # would unpersist tables another request is still joining against)
    with memo_scope():
        links = link_mentions(
            mentions, turns, model.kb, model.cand, threshold=threshold
        ).collect()
    by_span = {(r["conv_id"], r["start"], r["end"]): r["entity_id"] for r in links}

    out = []
    for i, doc in enumerate(documents):
        spans = []
        for s in doc.get("spans") or []:
            rec = {
                "text": s.get("text"),
                "start": s.get("start"),
                "end": s.get("end"),
                "label": s.get("label"),
                # int-coerce to match the linking keys: validation accepts
                # coercible offsets ("0", 3.0) and linking coerces them too
                "id": by_span.get(
                    (f"d{i}", int(s.get("start", -1)), int(s.get("end", -1)))
                ),
            }
            spans.append(rec)
        out.append({"spans": spans, "context": doc.get("context")})
    return out


def make_server(spark: SparkSession, model, host: str = "127.0.0.1", port: int = 8080):
    """ThreadingHTTPServer with POST /link (reference app.py routes)."""

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet test output
            pass

        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            self._send(200, {"service": "spacy_ann_linker_spark", "endpoints": ["/link"]})

        def do_POST(self):
            parsed = urlparse(self.path)
            if parsed.path != "/link":
                self._send(404, {"detail": "unknown route"})
                return
            # client errors (malformed query param / body) -> 400 with a JSON
            # response; anything that fails past validation is a 500 — a
            # malformed similarity_threshold must never drop the connection
            try:
                q = parse_qs(parsed.query)
                threshold = float(q.get("similarity_threshold", ["0.65"])[0])
                n = int(self.headers.get("Content-Length", "0"))
                body = json.loads(self.rfile.read(n) or b"{}")
                docs = body.get("documents") or []
                if not isinstance(docs, list):
                    raise ValueError("documents must be a list")
                # validate span shape here so client-data errors surface as
                # 400, not as a 500 out of link_documents' parsing phase
                for d in docs:
                    if not isinstance(d, dict):
                        raise ValueError("each document must be an object")
                    spans = d.get("spans") or []
                    if not isinstance(spans, list):
                        raise ValueError("spans must be a list")
                    for s in spans:
                        if not isinstance(s, dict):
                            raise ValueError("each span must be an object")
                        int(s.get("start", -1)), int(s.get("end", -1))
            # OverflowError: json.loads accepts Infinity, and int(inf)
            # raises it — still a client-data error, still a 400
            except (ValueError, TypeError, OverflowError, json.JSONDecodeError) as ex:
                self._send(400, {"detail": f"bad request: {ex}"})
                return
            try:
                out = link_documents(spark, model, docs, threshold=threshold)
                self._send(200, {"documents": out})
            except Exception as ex:  # noqa: BLE001 — server-side failure
                self._send(500, {"detail": str(ex)})

    return ThreadingHTTPServer((host, port), Handler)
