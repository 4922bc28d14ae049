"""Extras: dedup family cross-validation, similarity search, multimodal
plumbing, ann_kb get_candidates parity wrapper."""

import pytest
from pyspark.sql import functions as F


def test_minhash_lsh_finds_exact_jaccard_pairs(spark):
    """LSH candidate pairs must cover the high-Jaccard ground truth."""
    from spacy_ann_linker_spark.extras.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog!"),  # near-dup of 1
        (3, "a completely different sentence about spark sql"),
        (4, "a completely different sentence about spark sql engines"),  # near-dup of 3
        (5, "nothing like the others at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    truth = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.7).collect()
    }
    assert truth == {(1, 2), (3, 4)}
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df, "doc_id", "text").collect()}
    assert truth <= lsh  # full recall on the high-similarity pairs


def test_simhash_similar_docs_low_hamming(spark):
    from spacy_ann_linker_spark.extras.dedup import simhash

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy hog"),
            (3, "entirely unrelated words describing quantum chemistry"),
        ],
        "doc_id long, text string",
    )
    h = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    ham12 = bin((h[1] ^ h[2]) & (2**64 - 1)).count("1")
    ham13 = bin((h[1] ^ h[3]) & (2**64 - 1)).count("1")
    # short docs give high-variance signatures: assert the relative ordering
    # (near-dup pair closer than unrelated pair) with a margin
    assert ham12 + 8 <= ham13


def test_simhash_lsh_pairs_equal_brute_hamming(spark):
    """Pigeonhole guarantee: with 4 bands and max_hamming=3, the banded join
    finds EXACTLY the pairs a brute-force hamming join would (recall 1.0,
    and the post-verify filter removes every false candidate)."""
    from spacy_ann_linker_spark.extras.dedup import simhash, simhash_lsh_pairs

    base = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"
    rows = [(i, base + f" variant {i % 7}") for i in range(40)] + [
        (100 + i, f"completely different text number {i} about spark engines") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    brute = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert brute, "fixture should contain at least one near-dup pair"
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_lsh_pairs(df, "doc_id", "text", bands=4, max_hamming=3).collect()
    }
    assert set(got) == brute
    assert all(
        got[(a, b)] == bin(sigs[a] ^ sigs[b]).count("1") for (a, b) in got
    )


def test_simhash_lsh_rejects_unguaranteed_params(spark):
    import pytest as _pytest

    from spacy_ann_linker_spark.extras.dedup import simhash_lsh_pairs

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_lsh_pairs(df, "doc_id", "text", bands=4, max_hamming=4)


def test_ivf_matches_bruteforce_at_full_probe(spark):
    from spacy_ann_linker_spark.extras.similarity_search import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 3)
    brute = {(r["query_id"], r["rank"]): r["item_id"] for r in cosine_topk(emb, q, k=3).collect()}
    full_probe = {
        (r["query_id"], r["rank"]): r["item_id"]
        for r in ivf_topk(emb, q, n_centroids=8, nprobe=8, k=3).collect()
    }
    assert brute == full_probe  # nprobe == n_centroids degenerates to exact


def test_embedding_lsh_neardup_covers_bruteforce(spark):
    """LSH near-dup pairs must cover the brute-force ground truth at high
    cosine (16 planes / 4 bands: P[collide in >=1 band] >= 99.9% at cos 0.95)."""
    import numpy as np
    from spacy_ann_linker_spark.extras.dedup import embedding_neardup_pairs
    from spacy_ann_linker_spark.extras.similarity_search import embedding_lsh_neardup_pairs

    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 32))
    rows = []
    vid = 0
    for i in range(40):
        v = base[i] / np.linalg.norm(base[i])
        rows.append((vid, v.tolist())); vid += 1
        if i % 4 == 0:  # planted near-duplicate
            w = v + 0.03 * rng.standard_normal(32)
            w = w / np.linalg.norm(w)
            rows.append((vid, w.tolist())); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    truth = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(df, threshold=0.95).collect()}
    assert len(truth) >= 8
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_lsh_neardup_pairs(df, dim=32, threshold=0.95).collect()
    }
    assert truth <= lsh
    # and LSH never reports a pair brute force wouldn't (same exact rescore)
    assert lsh <= truth


def test_multimodal_decode_plumbing(spark):
    from spacy_ann_linker_spark.extras.multimodal import decode_features, synthesize_media

    media = synthesize_media(spark, 30)
    feats = decode_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(
        len(r["features"]) == 8 and r["n_bytes"] == 32 * (4 + r["media_id"] % 5)
        for r in rows
    )
    # deterministic: same payload -> same checksum on re-run
    again = {r["media_id"]: r["checksum"] for r in decode_features(media).collect()}
    assert all(again[r["media_id"]] == r["checksum"] for r in rows)


def test_synthesize_media_matches_oracle_fixture(spark):
    """The oracle's media.parquet and the Spark synthesizer produce
    byte-identical payload rows (the multimodal_decode query's contract)."""
    from spacy_ann_linker_spark.extras.multimodal import synthesize_media
    import __spark_entry__ as entry_mod

    aux = entry_mod._ensure_flagship_aux()
    fixture = {
        r["media_id"]: (r["kind"], bytes(r["payload"]))
        for r in spark.read.parquet(f"{aux}/media.parquet").collect()
    }
    synth = {
        r["media_id"]: (r["kind"], bytes(r["payload"]))
        for r in synthesize_media(spark, 200).collect()
    }
    assert synth == fixture


def test_kb_get_candidates_parity(spark, golden_model):
    """ann_kb golden (tests/test_ann_kb.py:48-51) through the public wrapper."""
    from spacy_ann_linker_spark.link.linker import kb_get_candidates

    t = spark.createDataFrame([("research",), ("researched",)], "text string")
    rows = kb_get_candidates(golden_model.cand, golden_model.kb, t).collect()
    by_text = {r["text"]: r for r in rows}
    assert by_text["research"]["entity_id"] == "a15"
    assert by_text["researched"]["alias"] == "Research"
    assert by_text["researched"]["entity_id"] == "a15"


def test_ivf_index_save_load_roundtrip(tmp_path, spark):
    """The create-index/query split (reference candidate_generator.py:284-346
    serializes its fitted index) applied to IVF: build once, save, load in a
    fresh object, query — identical results to the one-shot path."""
    from spacy_ann_linker_spark.extras.similarity_search import (
        build_ivf_index,
        IvfIndex,
        ivf_topk,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)

    idx = build_ivf_index(emb, n_centroids=8)
    idx.save(str(tmp_path / "ivf"))
    loaded = IvfIndex.load(spark, str(tmp_path / "ivf"))

    def key(rows):
        return {(r["query_id"], r["rank"]): r["item_id"] for r in rows}

    direct = key(ivf_topk(emb, q, n_centroids=8, nprobe=4, k=3).collect())
    via_index = key(ivf_topk_indexed(loaded, q, nprobe=4, k=3).collect())
    assert direct == via_index and len(direct) == 15


def test_unigram_logprob_matches_numpy(spark):
    import math

    from spacy_ann_linker_spark.extras.text_analysis import unigram_logprob

    docs = [(0, "the cat sat"), (1, "the the the"), (2, "rare words here"), (3, "   ")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_words"], r["logprob"]) for r in unigram_logprob(df, "doc_id", "text").collect()}
    # corpus counts: the=4, cat=1 sat=1 rare=1 words=1 here=1 -> total 9
    t = 9.0
    def lp(ws):
        counts = {"the": 4}
        return sum(math.log10(counts.get(w, 1) / t) for w in ws) / len(ws)
    assert got[0][0] == 3 and abs(got[0][1] - lp(["the", "cat", "sat"])) < 1e-9
    assert got[1][0] == 3 and abs(got[1][1] - lp(["the"] * 3)) < 1e-9
    # boilerplate ("the the the") scores HIGHER than rare text
    assert got[1][1] > got[2][1]
    # token-less doc drops
    assert 3 not in got
    # non-broadcast join path agrees
    got2 = {r["doc_id"]: (r["n_words"], r["logprob"])
            for r in unigram_logprob(df, "doc_id", "text", broadcast_vocab=False).collect()}
    assert got == got2


def test_kmeans_centroids_beat_seeded_on_clustered_data(spark):
    """VERDICT r3 item 8: KMeans|| centroids (fit_centroids) vs the id-seeded
    pick. The honest comparison needs data WITH cluster structure and
    ingestion-ordered ids (real embedding corpora: id order correlates with
    content, so "the n smallest ids" all land in one region — the exact
    distribution-blindness being fixed). There kmeans must win on BOTH
    recall at fixed nprobe and bucket balance. On the bench embedding set
    (uniform random, no structure — the degenerate case) neither method has
    an advantage; seeded stays the oracle default for SQL replayability."""
    import numpy as np

    from spacy_ann_linker_spark.extras.similarity_search import (
        IvfIndex,
        build_ivf_index,
        cosine_topk,
        fit_centroids,
        ivf_assign,
        ivf_topk_indexed,
        seeded_centroids,
    )

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(8, 32)) * 3
    # ids 0..74 are all cluster 0, 75..149 cluster 1, ... (ingestion order)
    vecs = [(i, (centers[i // 75] + rng.normal(size=32)).tolist()) for i in range(600)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 75 < 3)  # queries spread over clusters
    truth = {(r["query_id"], r["item_id"]) for r in cosine_topk(emb, q, k=5).collect()}

    def stats(cents):
        asn = ivf_assign(emb, cents)
        sizes = [r["count"] for r in asn.groupBy("centroid_id").count().collect()]
        idx = IvfIndex(centroids=cents, assigned=asn)
        got = {
            (r["query_id"], r["item_id"])
            for r in ivf_topk_indexed(idx, q, nprobe=2, k=5).collect()
        }
        return len(got & truth) / len(truth), max(sizes)

    r_seeded, max_seeded = stats(seeded_centroids(emb, 8))
    r_kmeans, max_kmeans = stats(fit_centroids(emb, 8))
    assert r_kmeans > r_seeded, (r_kmeans, r_seeded)
    assert max_kmeans < max_seeded, (max_kmeans, max_seeded)
    assert r_kmeans == 1.0  # all true neighbors found at nprobe 2 of 8

    # determinism: same seed -> same centroids
    a = fit_centroids(emb, 8).collect()
    b = fit_centroids(emb, 8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="centroid_method"):
        build_ivf_index(emb, n_centroids=8, centroid_method="bogus")


def test_session_windows_matches_lag_sessionize(spark):
    """session_window (streaming-capable native form) must produce exactly
    the sessions the lag/cumsum sessionize derives: same event partition per
    user (boundary semantics: a gap >= gap_minutes breaks; session_end =
    last event + gap)."""
    from spacy_ann_linker_spark.extras.sessionize import session_windows, sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sw = session_windows(ev, gap_minutes=30).collect()
    # derive the same aggregate from the lag path with the >= boundary:
    # sessionize uses > (strictly greater) so recompute groups directly
    import collections

    rows = sorted(
        ev.select("user_id", F.col("ts").cast("timestamp").cast("long").alias("sec"), "value").collect(),
        key=lambda r: (r["user_id"], r["sec"]),
    )
    sessions = collections.defaultdict(list)
    for r in rows:
        key = r["user_id"]
        if sessions[key] and r["sec"] - sessions[key][-1][-1][0] < 1800:
            sessions[key][-1].append((r["sec"], r["value"]))
        else:
            sessions[key].append([(r["sec"], r["value"])])
    want = set()
    for user, sess_list in sessions.items():
        for sess in sess_list:
            want.add((user, sess[0][0], sess[-1][0] + 1800, len(sess), round(sum(v for _, v in sess), 6)))
    got = {
        (
            r["user_id"],
            int(r["session_start"].timestamp()),
            int(r["session_end"].timestamp()),
            r["n_events"],
            round(r["total_value"], 6),
        )
        for r in sw
    }
    assert got == want


def test_token_count_bpe_reasonable_and_jvm(spark):
    """BPE-ish pre-tokenizer count: pure JVM (no Python nodes), counts
    >= whitespace token count (punctuation and contractions split), exact
    python-re parity on a sample."""
    import re

    from spacy_ann_linker_spark.extras.text_analysis import (
        BPE_SPLIT_PATTERN,
        token_count,
        token_count_bpe,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    bpe = token_count_bpe(docs, "doc_id", "text")
    plan = bpe._sc._jvm.PythonSQLUtils.explainString(bpe._jdf.queryExecution(), "formatted")
    assert "Python" not in plan
    ws = {r["doc_id"]: r["n_tokens"] for r in token_count(docs, "doc_id", "text").collect()}
    got = {r["doc_id"]: r["n_tokens_bpe"] for r in bpe.collect()}
    assert all(got[k] >= ws[k] for k in ws)
    # stdlib re has no \p classes — use explicit ASCII classes, which are
    # EXACT on ASCII text including underscore ('_' is punctuation under
    # \p{L}/\p{N} but a word char under \w, so a \w-based rewrite would
    # silently diverge the day the corpus contains one)
    pat = re.compile(
        r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+|\s+"
    )
    sample = {r["doc_id"]: r["text"] for r in docs.limit(50).collect()}
    for k, t in sample.items():
        assert got[k] == len(pat.findall(t or "")), k
    # pin the underscore case explicitly
    one = spark.createDataFrame([(9999, "a_b c")], "doc_id long, text string")
    from spacy_ann_linker_spark.extras.text_analysis import token_count_bpe as _tb
    assert _tb(one, "doc_id", "text").first()["n_tokens_bpe"] == len(pat.findall("a_b c"))


def test_winnow_fingerprints_reference_and_guarantee(spark):
    """Winnowing: exact parity with a python reference implementation
    (rightmost-min robust rule) and the algorithm's coverage guarantee —
    every window of w consecutive k-gram hashes contains >= 1 selected
    fingerprint position."""
    import hashlib
    import re

    from spacy_ann_linker_spark.extras.dedup import winnow_fingerprints

    k, w = 5, 4
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 30)
    got = {}
    for r in winnow_fingerprints(docs, "doc_id", "text", k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for row in docs.collect():
        t = re.sub(r"\s+", " ", (row["text"] or "").lower()).strip()
        hs = [h60(t[i : i + k]) for i in range(len(t) - k + 1)]
        want = set()
        sel_pos = set()
        for j in range(len(hs) - w + 1):
            win = hs[j : j + w]
            m = min(win)
            off = max(x for x in range(w) if win[x] == m)
            want.add((j + off + 1, m))  # 1-based gram index
            sel_pos.add(j + off)
        assert got.get(row["doc_id"], set()) == want, row["doc_id"]
        # coverage guarantee
        for j in range(len(hs) - w + 1):
            assert any(j <= p < j + w for p in sel_pos)
        # expected density ~2/(w+1)
        if len(hs) > 100:
            assert len(want) < 0.55 * len(hs)


def test_decontamination_finds_planted_leak(spark):
    """A corpus doc embedding an exact 13-word benchmark span must be
    flagged against exactly that benchmark doc; clean docs must not."""
    from spacy_ann_linker_spark.extras.text_analysis import (
        ngram_overlap_contamination,
    )

    bench_text = (
        "the quick brown fox jumps over the lazy dog while seven wizards watch quietly"
    )  # 14 words -> two 13-grams
    bench = spark.createDataFrame([(1, bench_text)], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            (100, "Intro words here. " + bench_text + " And a closing remark."),
            (101, "totally unrelated text about spark partitions and shuffles "
                  "that goes on long enough to have many thirteen word grams in it "
                  "without ever quoting the benchmark sentence at all thankfully"),
            (102, "the quick brown fox jumps over the lazy dog"),  # only 9 words — no 13-gram
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["bench_id"]): r["n_shared"]
        for r in ngram_overlap_contamination(corpus, bench, n=13).collect()
    }
    assert (100, 1) in out and out[(100, 1)] >= 1
    assert all(doc == 100 for doc, _ in out)

    # case/whitespace-insensitive: normalization folds both before hashing
    noisy = spark.createDataFrame(
        [(200, "XX  The   QUICK brown fox JUMPS over the lazy dog while seven wizards watch QUIETLY yy")],
        "doc_id long, text string",
    )
    out2 = ngram_overlap_contamination(noisy, bench, n=13).collect()
    assert len(out2) == 1 and out2[0]["doc_id"] == 200


def test_gopher_flags_discriminate(spark):
    """Gopher gates fire on the documented failure modes: too-short docs,
    symbol soup (alpha rule), stopword-free keyword lists; a normal English
    paragraph passes all four."""
    from spacy_ann_linker_spark.extras.text_analysis import gopher_quality_flags

    good = ("the quick brown fox jumps over the lazy dog and then it ran away "
            "to be with the other animals that have a den near the river of "
            "glass and stone where they all meet every evening to share food "
            "and stories about the day that went by so fast for all of them")
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "too short to pass the word count gate"),
            (3, " ".join(["1234 $$$ %%%"] * 40)),  # symbol soup: alpha rule
            (4, " ".join(["keyword list without stopwords item entry value"] * 10)),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_quality_flags(docs).collect()}
    assert out[1]["passes"]
    assert not out[2]["flag_word_count"] and not out[2]["passes"]
    assert not out[3]["flag_alpha_words"] and not out[3]["passes"]
    assert not out[4]["flag_stopwords"] and not out[4]["passes"]


def test_winnow_and_cdc_sub_k_docs_empty(spark):
    """Regression (r4 review, confirmed bug): docs shorter than the gram
    width must produce ZERO winnowing fingerprints at any w (sequence(1,0)
    descends to [1,0] unguarded, hashing phantom partial grams) and exactly
    ONE whole-doc CDC chunk."""
    from spacy_ann_linker_spark.extras.dedup import winnow_fingerprints
    from spacy_ann_linker_spark.extras.sampling import cdc_chunks

    docs = spark.createDataFrame(
        [(1, "abc"), (2, "x153"), (3, ""), (4, "exactly eight chars pass here")],
        "doc_id long, text string",
    )
    wf = winnow_fingerprints(docs, "doc_id", "text", k=5, w=2).collect()
    assert all(r["doc_id"] == 4 for r in wf), wf  # only the long doc fingerprints

    ch = cdc_chunks(docs, "doc_id", "text", k=8, mask=63, min_len=1).collect()
    by = {}
    for r in ch:
        by.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk"]))
    assert [c for _, c in sorted(by[1])] == ["abc"]
    assert [c for _, c in sorted(by[2])] == ["x153"]
    assert 3 not in by  # empty text -> no chunks
    # exact byte reconstruction in chunk_idx order (ADVICE r4: the previous
    # '... or True' form made this a no-op)
    assert "".join(c for _, c in sorted(by[4])) == "exactly eight chars pass here"


def test_scrub_pii_sentinels_and_counts(spark):
    """PII scrub: phones (with/without country code), IPv4, SSN-shapes
    replaced with sentinels; counts on raw text; version strings and dates
    survive (high-precision contract)."""
    from spacy_ann_linker_spark.extras.text_analysis import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "call me at +1 (555) 123-4567 or 555-123-4567 soon"),
            (2, "server at 192.168.1.100 and 10.0.0.1, ssn 123-45-6789"),
            (3, "release v1.2.3.4 on 2024-01-02 is fine"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in scrub_pii(df, "doc_id", "text").collect()}
    assert out[1]["clean_text"] == "call me at <PHONE> or <PHONE> soon"
    assert out[1]["n_phones"] == 2
    assert out[2]["clean_text"] == "server at <IP> and <IP>, ssn <SSN>"
    assert (out[2]["n_ips"], out[2]["n_ssns"]) == (2, 1)
    assert out[3]["clean_text"] == "release v1.2.3.4 on 2024-01-02 is fine"
    assert (out[3]["n_ips"], out[3]["n_phones"], out[3]["n_ssns"]) == (0, 0, 0)


def test_scrub_counts_raw_text_nested_matches(spark):
    """Counting contract (why scrub uses separate per-pattern scans, not one
    alternation pass): counts are on RAW text, so an email nested inside a
    URL counts for BOTH n_urls and n_emails — a single alternation scan
    would consume the URL and undercount n_emails. The replace order still
    means the nested email disappears inside <URL> in clean_text."""
    from spacy_ann_linker_spark.extras.text_analysis import scrub_text

    df = spark.createDataFrame(
        [(1, "see https://x.example/mail?to=a@b.cd for details")],
        "doc_id long, text string",
    )
    r = scrub_text(df, "doc_id", "text").collect()[0]
    assert (r["n_urls"], r["n_emails"]) == (1, 1)
    assert r["clean_text"] == "see <URL> for details"


def test_lsh_verified_jaccard_exact_precision(spark):
    """Composed dedup recipe (LSH candidates -> exact Jaccard verify):
    every emitted pair must carry the EXACT Jaccard value (equal to the
    ground-truth all-pairs join) — precision 1.0 by construction; the pair
    set is exactly (exact pairs) ∩ (LSH candidates)."""
    from spacy_ann_linker_spark.extras.dedup import (
        lsh_verified_jaccard_pairs,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dogs"),
            (3, "a completely different sentence about spark engines"),
            (4, "a completely different sentence about spark engine"),
            (5, "nothing like the others at all here"),
        ],
        "doc_id long, text string",
    )
    exact = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    cands = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in lsh_verified_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert set(got) == set(exact) & cands
    for k, v in got.items():
        assert v == exact[k], (k, v, exact[k])
    assert (1, 2) in got and (3, 4) in got  # near-dups survive the pipeline


# ---- edit_distance_pairs ----------------------------------------------------


def test_edit_distance_pairs_hand_checked(spark):
    from spacy_ann_linker_spark.extras.dedup import edit_distance_pairs

    rows = [
        (1, "small ring"),
        (2, "small rong"),   # dist 1 to id 1
        (3, "small gizmo"),  # dist 4 to "small ring" -> dropped at k=3
        (4, "SMALL RING "),  # normalizes equal to id 1 -> dist 0
        (5, "tiny ring"),    # different 4-prefix: never a candidate
    ]
    df = spark.createDataFrame(rows, "id int, name string")
    out = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in edit_distance_pairs(df, "id", "name", 4, 3).collect()
    }
    assert out == {(1, 2): 1, (1, 4): 0, (2, 4): 1}


def test_edit_distance_pairs_matches_python_levenshtein(spark):
    import itertools
    import random

    from spacy_ann_linker_spark.extras.dedup import edit_distance_pairs

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(7)
    words = ["".join(rng.choice("abc") for _ in range(rng.randint(3, 9))) for _ in range(40)]
    rows = [(i, "pfx_" + w) for i, w in enumerate(words)]  # one shared block
    expected = {
        (i, j): lev(rows[i][1].lower(), rows[j][1].lower())
        for i, j in itertools.combinations(range(len(rows)), 2)
        if lev(rows[i][1].lower(), rows[j][1].lower()) <= 2
    }
    df = spark.createDataFrame(rows, "id int, name string")
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in edit_distance_pairs(df, "id", "name", 4, 2).collect()
    }
    assert got == expected


def test_winnow_pairs_equals_fingerprint_recomputation(spark):
    """winnow_pairs must equal pairs recomputed from winnow_fingerprints'
    distinct (doc, fp) sets — the in-row fp-set derivation is the same
    array minus positions."""
    from spacy_ann_linker_spark.extras.dedup import winnow_fingerprints, winnow_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 60)
    got = {
        (r["id_a"], r["id_b"]): r["n_shared_fps"]
        for r in winnow_pairs(docs, "doc_id", "text", k=5, w=4, min_shared=2).collect()
    }
    fps = {}
    for r in winnow_fingerprints(docs, "doc_id", "text", k=5, w=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    want = {}
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shared = len(fps[a] & fps[b])
            if shared >= 2:
                want[(a, b)] = shared
    assert got == want
    assert want, "fixture produced no pairs — weaken the filter"


def test_winnow_pairs_shared_substring_guarantee(spark):
    """Two docs sharing a substring of length >= k+w-1 share >= 1
    fingerprint (the winnowing guarantee), so min_shared=1 must pair them."""
    from spacy_ann_linker_spark.extras.dedup import winnow_pairs

    shared = "the quick brown fox jumps over"  # len 30 >= 5+4-1
    docs = spark.createDataFrame(
        [(1, "AAAA " + shared + " xyz"), (2, "BBBB qqq " + shared), (3, "totally different words here")],
        "doc_id int, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in winnow_pairs(docs, "doc_id", "text", k=5, w=4, min_shared=1).collect()
    }
    assert (1, 2) in pairs


def test_winnow_pairs_max_df_drops_boilerplate(spark):
    """A fingerprint present in every doc (boilerplate header) is dropped
    by max_df, removing pairs that only share the boilerplate."""
    from spacy_ann_linker_spark.extras.dedup import winnow_pairs

    header = "copyright acme corp all rights reserved"
    bodies = ["alpha one", "beta two", "gamma three", "delta four"]
    docs = spark.createDataFrame(
        [(i, header + " " + b) for i, b in enumerate(bodies)],
        "doc_id int, text string",
    )
    with_all = winnow_pairs(docs, "doc_id", "text", k=5, w=4, min_shared=1).count()
    capped = winnow_pairs(docs, "doc_id", "text", k=5, w=4, min_shared=1, max_df=2).count()
    assert with_all == 6  # C(4,2): every pair shares the header
    assert capped == 0


# ---- prefix_filter_jaccard_pairs (AllPairs) ---------------------------------


def _jacc_brute(rows, threshold):
    import itertools
    import re

    toks = {
        i: set(w for w in re.split(r"[^a-z0-9]+", t.lower()) if w) for i, t in rows
    }
    want = {}
    for a, b in itertools.combinations(sorted(toks), 2):
        ta, tb = toks[a], toks[b]
        if not ta or not tb:
            continue
        j = len(ta & tb) / len(ta | tb)
        if j >= threshold:
            want[(a, b)] = j
    return want


def test_prefix_filter_jaccard_matches_brute_force(spark):
    """No false negatives AND no false positives vs the quadratic brute
    force — the AllPairs guarantee, over random token sets at several
    thresholds (incl. t=0.3, the IEEE ceil-round-up trap: 0.3*10 -> 3.0…04)."""
    import random

    from spacy_ann_linker_spark.extras.dedup import prefix_filter_jaccard_pairs

    rng = random.Random(31)
    vocab = [f"w{i:02d}" for i in range(25)]
    rows = [
        (i, " ".join(rng.sample(vocab, rng.randrange(0, 11)))) for i in range(80)
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    for t in (0.3, 0.5, 0.8):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in prefix_filter_jaccard_pairs(df, "id", "text", threshold=t).collect()
        }
        want = _jacc_brute(rows, t)
        assert set(got) == set(want), f"t={t}"
        for k, v in want.items():
            assert got[k] == pytest.approx(v)


def test_prefix_filter_jaccard_hand_case_and_boundary(spark):
    from spacy_ann_linker_spark.extras.dedup import prefix_filter_jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma zeta"),   # J with 1 = 3/5 = 0.6
            (3, "alpha beta"),              # J with 1 = 2/4 = 0.5 (boundary)
            (4, "omega psi"),
            (5, "???"),                     # empty token set: excluded
        ],
        "id int, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(df, "id", "text", threshold=0.5).collect()
    }
    assert got.keys() == {(1, 2), (1, 3), (2, 3)}
    assert got[(1, 2)] == pytest.approx(0.6)
    assert got[(1, 3)] == pytest.approx(0.5)  # >= keeps the exact boundary


# ---- dedup_paragraphs -------------------------------------------------------


def test_dedup_paragraphs_first_occurrence_wins_and_reassembles(spark):
    from spacy_ann_linker_spark.extras.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "intro one\n\nshared footer"),
            (2, "intro two\n\nshared footer\n\nextra"),
            (3, "shared footer"),            # everything already seen
            (4, "dup para\n\ndup para"),     # in-doc repeat: keep first only
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}
    assert got[1]["clean_text"] == "intro one\n\nshared footer"
    assert (got[1]["n_paras"], got[1]["n_kept"]) == (2, 2)
    # doc 2 loses the footer (seen in doc 1) but keeps order of survivors
    assert got[2]["clean_text"] == "intro two\n\nextra"
    assert (got[2]["n_paras"], got[2]["n_kept"]) == (3, 2)
    # doc 3 fully deduplicated away but the row survives
    assert got[3]["clean_text"] == ""
    assert (got[3]["n_paras"], got[3]["n_kept"]) == (1, 0)
    # in-document repeat collapses to the first copy
    assert got[4]["clean_text"] == "dup para"
    assert (got[4]["n_paras"], got[4]["n_kept"]) == (2, 1)


def test_dedup_paragraphs_partition_invariant(spark):
    """The winner rule is min(struct(id, idx)) — a pure function of the
    data, so repartitioning must not change any output row."""
    from spacy_ann_linker_spark.extras.dedup import dedup_paragraphs

    rows = [(i, f"common head\n\nbody {i % 5}\n\ntail {i % 3}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, dedup_paragraphs(docs.repartition(1)).collect()))
    b = sorted(map(tuple, dedup_paragraphs(docs.repartition(16)).collect()))
    assert a == b
    # exactly one global copy of every distinct paragraph survives
    total_kept = sum(r[3] for r in a)
    assert total_kept == 1 + 5 + 3


def test_dedup_paragraphs_empty_segments_skipped(spark):
    from spacy_ann_linker_spark.extras.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [(1, "\n\nonly para\n\n"), (2, "")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}
    assert got[1]["clean_text"] == "only para"
    assert (got[1]["n_paras"], got[1]["n_kept"]) == (1, 1)
    assert got[2]["clean_text"] == ""
    assert (got[2]["n_paras"], got[2]["n_kept"]) == (0, 0)


# ---- prefix_filter_cosine_pairs ---------------------------------------------


def _cosine_brute(recs, threshold):
    import itertools
    import math
    import re
    from collections import Counter

    toks = {
        i: sorted(set(w for w in re.split(r"[^a-z0-9]+", t.lower()) if w))
        for i, t in recs
    }
    n = len([i for i in toks if toks[i]])
    dfc = Counter(t for ts in toks.values() for t in ts)
    w = {}
    for i, ts in toks.items():
        raw = {t: math.log(1 + n / dfc[t]) for t in ts}
        nm = math.sqrt(sum(v * v for v in raw.values()))
        w[i] = {t: v / nm for t, v in raw.items()} if nm else {}
    out = {}
    for a, b in itertools.combinations(sorted(toks), 2):
        c = sum(w[a][t] * w[b].get(t, 0.0) for t in w[a])
        if c >= threshold:
            out[(a, b)] = c
    return out


@pytest.mark.parametrize("threshold", [0.3, 0.6, 0.9])
def test_cosine_allpairs_matches_brute_force(spark, threshold):
    """Exact recall at several thresholds: the L2-prefix filter must find
    EVERY pair the all-pairs scan finds, with identical cosines."""
    import random

    from spacy_ann_linker_spark.extras.dedup import prefix_filter_cosine_pairs

    rng = random.Random(31)
    words = ["acme", "steel", "works", "global", "inc", "corp", "east",
             "west", "mill", "iron", "trade", "co", "ltd", "north"]
    recs = [(i, " ".join(rng.sample(words, rng.randint(2, 6)))) for i in range(70)]
    df = spark.createDataFrame(recs, "id int, text string")
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in prefix_filter_cosine_pairs(df, "id", "text", threshold).collect()
    }
    want = _cosine_brute(recs, threshold)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


def test_cosine_allpairs_identical_records_score_one(spark):
    from spacy_ann_linker_spark.extras.dedup import prefix_filter_cosine_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "unrelated words here")],
        "id int, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in prefix_filter_cosine_pairs(df, "id", "text", 0.99).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == pytest.approx(1.0)


def test_cosine_allpairs_empty_token_records_excluded(spark):
    from spacy_ann_linker_spark.extras.dedup import prefix_filter_cosine_pairs

    df = spark.createDataFrame(
        [(1, "???"), (2, "alpha beta"), (3, "alpha beta")], "id int, text string"
    )
    got = prefix_filter_cosine_pairs(df, "id", "text", 0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(2, 3)}


# ------------------------------------------------------- context_window


def test_context_window_hand_computed(spark):
    from spacy_ann_linker_spark.extras.sessionize import context_window

    rows = [
        ("c1", 0, "hello there"),
        ("c1", 1, "how are you"),
        ("c1", 2, "fine thanks"),
        ("c1", 3, "great"),
        ("c2", 0, "other conv"),
    ]
    df = spark.createDataFrame(rows, "conv string, idx int, text string")
    got = {
        (r["conv"], r["idx"]): (r["prev_context"], r["context"])
        for r in context_window(df, "conv", ["idx"], "text", n_prev=2).collect()
    }
    assert got[("c1", 0)] == ("", "hello there")
    assert got[("c1", 1)] == ("hello there", "hello there how are you")
    assert got[("c1", 2)] == (
        "hello there how are you",
        "hello there how are you fine thanks",
    )
    # frame is bounded: idx 3 sees turns 1-2 only, turn 0 fell out
    assert got[("c1", 3)] == ("how are you fine thanks", "how are you fine thanks great")
    # conversations are isolated
    assert got[("c2", 0)] == ("", "other conv")


def test_context_window_custom_joiner_and_n_prev(spark):
    from spacy_ann_linker_spark.extras.sessionize import context_window

    rows = [("c", i, f"t{i}") for i in range(4)]
    df = spark.createDataFrame(rows, "conv string, idx int, text string")
    got = {
        r["idx"]: r["context"]
        for r in context_window(df, "conv", ["idx"], "text", n_prev=3, joiner=" | ").collect()
    }
    assert got[3] == "t0 | t1 | t2 | t3"
