"""CLI surface: serve (POST /link) and example-data (tutorial JSONL)."""

import json
import threading
import urllib.error
import urllib.request


def test_link_documents_golden(spark, tmp_path):
    from spacy_ann_linker_spark.link.serve import link_documents
    from spacy_ann_linker_spark.pipeline import build_golden_model

    model = build_golden_model(spark, min_df=1)
    docs = [
        {
            "spans": [
                {"text": "NLP", "start": 0, "end": 3, "label": "SKILL"},
                {"text": "machine learning", "start": 37, "end": 53, "label": "SKILL"},
                {"text": "bogus", "start": 500, "end": 510, "label": "SKILL"},  # invalid offsets
            ],
            "context": "NLP is a highly researched subset of machine learning.",
        }
    ]
    out = link_documents(spark, model, docs)
    spans = out[0]["spans"]
    assert [s["id"] for s in spans] == ["a3", "a1", None]  # invalid span echoed, unlinked
    assert out[0]["context"] == docs[0]["context"]


def test_serve_http_roundtrip(spark, tmp_path):
    from spacy_ann_linker_spark.link.serve import make_server
    from spacy_ann_linker_spark.pipeline import build_golden_model

    model = build_golden_model(spark, min_df=1)
    server = make_server(spark, model, "127.0.0.1", 0)  # ephemeral port
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        body = json.dumps(
            {
                "documents": [
                    {
                        "spans": [{"text": "NLP", "start": 0, "end": 3, "label": "SKILL"}],
                        "context": "NLP is fun",
                    }
                ]
            }
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/link?similarity_threshold=0.65",
            data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            payload = json.loads(resp.read())
        assert payload["documents"][0]["spans"][0]["id"] == "a3"
        # health route
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/", timeout=30) as resp:
            assert json.loads(resp.read())["endpoints"] == ["/link"]

        # malformed similarity_threshold -> HTTP 400 JSON, NOT a dropped
        # connection (ADVICE r2: the parse used to sit outside the handler's
        # try block)
        bad = urllib.request.Request(
            f"http://127.0.0.1:{port}/link?similarity_threshold=nan-garbage",
            data=body,
            headers={"Content-Type": "application/json"},
        )
        try:
            urllib.request.urlopen(bad, timeout=30)
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "bad request" in json.loads(e.read())["detail"]

        # malformed JSON body -> 400 too
        bad2 = urllib.request.Request(
            f"http://127.0.0.1:{port}/link",
            data=b"{not json",
            headers={"Content-Type": "application/json"},
        )
        try:
            urllib.request.urlopen(bad2, timeout=30)
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400

    finally:
        server.shutdown()


def test_link_documents_releases_memo_caches(spark):
    """Every request-scoped persisted memo is unpersisted before
    link_documents returns (long-running server must not accumulate
    cached tables)."""
    from spacy_ann_linker_spark.link import linker as linker_mod
    from spacy_ann_linker_spark.link.serve import link_documents
    from spacy_ann_linker_spark.pipeline import build_golden_model

    model = build_golden_model(spark, min_df=1)
    docs = [{"spans": [{"text": "NLP", "start": 0, "end": 3, "label": "S"}],
             "context": "NLP is fun"}]
    # link_documents runs inside its own memo_scope: its memos release on
    # exit and the GLOBAL registry is untouched either way (other tests in
    # this shared session may legitimately hold global memos)
    before = list(linker_mod._PERSISTED_MEMOS)
    link_documents(spark, model, docs)
    assert linker_mod._PERSISTED_MEMOS == before


def test_example_data_cli(tmp_path):
    from spacy_ann_linker_spark.__main__ import main

    out = tmp_path / "kb"
    assert main(["example-data", "--output-dir", str(out)]) == 0
    ents = [json.loads(l) for l in (out / "entities.jsonl").read_text().splitlines()]
    als = [json.loads(l) for l in (out / "aliases.jsonl").read_text().splitlines()]
    assert {e["id"] for e in ents} >= {"a1", "a3", "a15"}
    assert {"alias", "entities", "probabilities"} <= set(als[0])


def test_malformed_spans_return_400(spark):
    """Client-data errors in span shape (non-numeric offsets, non-dict
    spans) must surface as HTTP 400, not 500 (ADVICE r3: the validation
    split only covered the outer envelope)."""
    from spacy_ann_linker_spark.link.serve import make_server
    from spacy_ann_linker_spark.pipeline import build_golden_model

    model = build_golden_model(spark, min_df=1)
    server = make_server(spark, model, "127.0.0.1", 0)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        for bad_docs in (
            [{"spans": [{"text": "x", "start": "zero", "end": 3}], "context": "x"}],
            [{"spans": ["not-a-dict"], "context": "x"}],
            [{"spans": {"start": 0}, "context": "x"}],
            ["not-a-doc"],
        ):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/link",
                data=json.dumps({"documents": bad_docs}).encode(),
                headers={"Content-Type": "application/json"},
            )
            try:
                urllib.request.urlopen(req, timeout=30)
                raise AssertionError(f"expected HTTP 400 for {bad_docs!r}")
            except urllib.error.HTTPError as e:
                assert e.code == 400, (e.code, bad_docs)
    finally:
        server.shutdown()


def test_memo_scope_isolates_concurrent_callers(spark):
    """ADVICE r3 (medium): memos registered inside a memo_scope release
    independently of the global registry and of other threads' scopes — a
    concurrent /link request must never unpersist another request's
    in-flight memos."""
    import queue

    from pyspark.sql import functions as F

    from spacy_ann_linker_spark.link import linker as linker_mod
    from spacy_ann_linker_spark.link.linker import memo_scope, release_memos

    release_memos()  # drain any leftovers from earlier tests
    df_global, _ = linker_mod._materialize_memo(spark.range(4))
    with memo_scope():
        a, _ = linker_mod._materialize_memo(spark.range(5))
        b, _ = linker_mod._materialize_memo(spark.range(6))
        a.count(), b.count()
        # release inside the scope touches ONLY the scope's memos
        assert release_memos() == 2
        assert linker_mod._PERSISTED_MEMOS == [df_global]
    # global registry untouched by scope exit
    assert linker_mod._PERSISTED_MEMOS == [df_global]

    # thread isolation: a handler thread's scope never sees main's registry
    out: "queue.Queue" = queue.Queue()

    def handler():
        with memo_scope():
            linker_mod._materialize_memo(spark.range(7))[0].count()
            out.put(("inside", release_memos()))
        out.put(("after", linker_mod._PERSISTED_MEMOS == [df_global]))

    th = threading.Thread(target=handler)
    th.start()
    th.join(60)
    assert out.get() == ("inside", 1)
    assert out.get() == ("after", True)
    assert release_memos() == 1  # the global one


def test_remote_client_pipe_rezips_ids(spark):
    """RemoteAnnLinker client parity (remote_ann_linker.py:95-143): batched
    POSTs, ids re-zipped IN PLACE onto the caller's spans (only when
    truthy), and the reference's typed ValueError on HTTP error
    envelopes."""
    import pytest as _pytest

    from spacy_ann_linker_spark.link.client import RemoteLinkerClient
    from spacy_ann_linker_spark.link.serve import make_server
    from spacy_ann_linker_spark.pipeline import build_golden_model

    model = build_golden_model(spark, min_df=1)
    server = make_server(spark, model, "127.0.0.1", 0)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        client = RemoteLinkerClient(f"http://127.0.0.1:{port}/link")
        # the reference golden sentence, plus a doc whose span can't link
        docs = [
            {
                "spans": [
                    {"text": "NLP", "start": 0, "end": 3, "label": "SKILL"},
                    {"text": "researched", "start": 16, "end": 26, "label": "SKILL"},
                    {"text": "Machine learning", "start": 37, "end": 53, "label": "SKILL"},
                ],
                "context": "NLP is a highly researched subset of Machine learning.",
            },
            {
                "spans": [{"text": "zzqqy", "start": 0, "end": 5, "label": "SKILL"}],
                "context": "zzqqy has no candidates whatsoever.",
            },
        ]
        # batch_size=1 exercises the minibatch loop + per-batch re-zip
        out = list(client.pipe(docs, batch_size=1))
        assert out[0] is docs[0]  # ids applied in place, docs yielded through
        ids = [s.get("id") for s in docs[0]["spans"]]
        assert ids == ["a3", "a15", "a1"]
        assert "id" not in docs[1]["spans"][0]  # falsy id never applied

        # HTTP error envelope (unknown route -> 404) raises the reference's
        # ValueError("Error in making request to the server.", e)
        bad = RemoteLinkerClient(f"http://127.0.0.1:{port}/nosuch")
        with _pytest.raises(ValueError, match="Error in making request"):
            bad.link_batch([{"spans": [], "context": "x"}])
    finally:
        server.shutdown()


def test_coercible_string_offsets_link_and_rezip(spark):
    """Offsets that int() accepts ('0', '3') must not only pass validation
    and link — the response re-zip must find them too (review fix: the
    lookup used raw client values against int link keys, returning id:null
    for successfully-linked spans)."""
    from spacy_ann_linker_spark.link.serve import link_documents
    from spacy_ann_linker_spark.pipeline import build_golden_model

    model = build_golden_model(spark, min_df=1)
    docs = [{"spans": [{"text": "NLP", "start": "0", "end": "3", "label": "S"}],
             "context": "NLP is fun"}]
    out = link_documents(spark, model, docs)
    assert out[0]["spans"][0]["id"] == "a3"


def test_concurrent_link_posts_no_cross_release(spark):
    """VERDICT r4 item 6: two RACING /link POSTs against the live threaded
    server — ThreadingHTTPServer runs handlers concurrently, and each
    handler's memo_scope must release only its own memos. Both requests must
    return correct ids (a cross-release would unpersist / delete tables the
    other request's plan is mid-join on, failing or corrupting it), and the
    global memo registry must be exactly as before."""
    import queue

    from spacy_ann_linker_spark.link import linker as linker_mod
    from spacy_ann_linker_spark.link.serve import make_server
    from spacy_ann_linker_spark.pipeline import build_golden_model

    model = build_golden_model(spark, min_df=1)
    server = make_server(spark, model, "127.0.0.1", 0)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    before = list(linker_mod._PERSISTED_MEMOS)
    results: "queue.Queue" = queue.Queue()

    def post(text, start, end, context, expect):
        body = json.dumps(
            {"documents": [{"spans": [{"text": text, "start": start, "end": end,
                                       "label": "SKILL"}], "context": context}]}
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/link", data=body,
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=180) as resp:
                got = json.loads(resp.read())["documents"][0]["spans"][0]["id"]
            results.put((expect, got))
        except Exception as ex:  # noqa: BLE001 — surface in the main thread
            results.put((expect, f"error: {ex}"))

    try:
        threads = [
            threading.Thread(target=post, args=("NLP", 0, 3, "NLP is fun", "a3")),
            threading.Thread(
                target=post,
                args=("machine learning", 0, 16, "machine learning rules", "a1"),
            ),
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(300)
        outcomes = [results.get(timeout=5) for _ in threads]
        for expect, got in outcomes:
            assert got == expect, outcomes
        assert linker_mod._PERSISTED_MEMOS == before
    finally:
        server.shutdown()
