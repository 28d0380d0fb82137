"""HTTP serving-layer contracts beyond the basic endpoint test
(tests/test_operators.py::test_aknn_http_server_endpoints): the
partitioned store layout (equivalence with the in-memory api search +
PartitionFilters in the served plan), replace/delete/refresh through the
one patch path, torn-write detection, the id-type pinning rule (ADVICE
r10) and wire-input validation."""

from __future__ import annotations

import json as _json
import tempfile
import urllib.error
import urllib.request

from elastik_nearest_neighbors_spark import io as eio
from elastik_nearest_neighbors_spark import plans
from elastik_nearest_neighbors_spark.server import AknnHttpServer, _http_get, _http_post
from tests.conftest import SF_SMALL


def _sample_docs(spark, n=300):
    emb = eio.table(spark, SF_SMALL, "embeddings", widen=True)
    return [
        {"_id": int(r.vec_id), "_source": {"_aknn_vector": list(r.embedding)}}
        for r in emb.select("vec_id", "embedding").orderBy("vec_id").limit(n).collect()
    ]


def _serve(spark, docs, batches=1, sample=None):
    """sample: the /_aknn_create fit docs — defaults to docs[:24], but a
    comparison server indexing MUTATED docs must fit from the SAME sample
    as its twin, or the two servers hold different LSH models and any
    result equality is a data coincidence."""
    srv = AknnHttpServer(spark, tempfile.mkdtemp(prefix="enn_http_test_")).start()
    _http_post(
        srv.port,
        "/_aknn_create",
        {"_id": "m", "nb_tables": 4, "nb_bits_per_table": 3,
         "docs": (sample if sample is not None else docs[:24])},
    )
    step = max(1, len(docs) // batches)
    for i in range(0, len(docs), step):
        _http_post(
            srv.port,
            "/_aknn_index",
            {"model": "m", "_index": "idx", "docs": docs[i : i + step]},
        )
    return srv


def test_http_store_mode_matches_flat_and_prunes(spark):
    """r11 (#157): the server (MULTI-batch appends into the partitioned
    store) must answer exactly what the in-memory api search answers over
    the same model and docs, and its serving plan must carry
    PartitionFilters on both pruned reads (terms by (tbl, bucket), query
    doc by id_bucket)."""
    from elastik_nearest_neighbors_spark import api

    docs = _sample_docs(spark)
    store = _serve(spark, docs, batches=3)
    try:
        indexed = api.aknn_index(store._docs_df(docs), store.registry.get("m"))
        for qid in (docs[0]["_id"], docs[7]["_id"], docs[123]["_id"]):
            ref = api.aknn_search(indexed, [qid], 50, 5).orderBy("distance", "neighbor_id")
            hits = [
                {"_id": r.neighbor_id, "_score": r.distance, "n_match": r.n_match}
                for r in ref.collect()
            ]
            want = {"timed_out": False, "hits": {"total": len(hits), "hits": hits}}
            got = _http_get(store.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
            assert got == want, (qid, got, want)
        # the pruned plans: literal PartitionFilters on BOTH store reads —
        # candidate terms by (tbl, bucket), query doc by id_bucket
        df = store._msearch_store("idx", [docs[0]["_id"]], 50, 5)
        pf = " ".join(plans.partition_filters(df))
        assert "tbl" in pf and "bucket" in pf, plans.formatted_plan(df)
        qdf = store._query_docs_df("idx", [docs[0]["_id"]])
        qpf = " ".join(plans.partition_filters(qdf))
        assert "id_bucket" in qpf and "=" in qpf, plans.formatted_plan(qdf)
    finally:
        store.stop()


def _post_raw(port, path, payload):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=_json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    return urllib.request.urlopen(req)


def test_http_index_id_type_pinned(spark):
    """ADVICE r10: the index's FIRST batch pins the _id type. A string-id
    batch against a bigint-pinned index must 400 (not append a torn
    schema); an int-id batch against a string-pinned index is cast and
    stays searchable."""
    docs = _sample_docs(spark, n=64)
    srv = _serve(spark, docs[:32])
    try:
        bad = [{"_id": f"doc-{i}", "_source": d["_source"]} for i, d in enumerate(docs[32:48])]
        try:
            _post_raw(srv.port, "/_aknn_index", {"model": "m", "_index": "idx", "docs": bad})
            raise AssertionError("expected 400 for string ids on bigint-pinned index")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "pins _id type bigint" in _json.loads(e.read())["error"]
        # the rejected batch must not have corrupted the store
        res = _http_get(srv.port, f"/idx/{docs[0]['_id']}/_aknn_search?k1=50&k2=5")
        assert res["hits"]["total"] == 5

        # string-pinned index: first batch has a string id -> later
        # all-int batches are cast losslessly and searchable
        first = [dict(docs[0], _id="s-0")] + docs[1:8]
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "sidx", "docs": first})
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "sidx", "docs": docs[8:32]})
        res = _http_get(srv.port, "/sidx/s-0/_aknn_search?k1=50&k2=5")
        assert res["hits"]["total"] == 5
        res2 = _http_get(srv.port, f"/sidx/{docs[9]['_id']}/_aknn_search?k1=50&k2=5")
        assert res2["hits"]["total"] == 5
    finally:
        srv.stop()


def test_http_index_replaces_by_id(spark):
    """r11 (#160): ES replace-on-index semantics — re-posting an _id must
    replace the stored doc, and the result must equal a
    fresh server indexed with the final state; within a batch the last
    occurrence wins."""
    docs = _sample_docs(spark, n=96)
    moved = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:16]
    ]
    final = moved + docs[16:]
    srv = _serve(spark, docs, batches=2)
    # the reference server indexes the FINAL state but must fit its
    # model from the same original sample as srv (review r11: fitting
    # from `final` gives a different model, and equality would hold
    # only by data coincidence)
    fresh = _serve(spark, final, batches=2, sample=docs[:24])
    try:
        # re-post the moved docs; also exercise last-wins within batch
        # (a stale copy of each doc precedes its moved version)
        _http_post(srv.port, "/_aknn_index",
                   {"model": "m", "_index": "idx", "docs": docs[:16] + moved})
        for qid in (docs[0]["_id"], docs[5]["_id"], docs[40]["_id"]):
            a = _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
            b = _http_get(fresh.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
            assert a == b, (qid, a, b)
    finally:
        srv.stop()
        fresh.stop()


def test_http_unknown_doc_is_200_empty_in_both_modes(spark):
    """r11: an unknown doc id must be a 200 with zero hits (the pruned
    layout previously turned it into a 400 KeyError)."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        res = _http_get(srv.port, "/idx/999999/_aknn_search?k1=50&k2=5")
        assert res == {"timed_out": False, "hits": {"total": 0, "hits": []}}, res
    finally:
        srv.stop()


def test_http_failed_repost_preserves_stored_doc(spark):
    """r11 review: a replace must NOT destroy on failure — a re-post whose
    vector has the wrong dimension 400s with the store (and the old doc)
    intact."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        before = _http_get(srv.port, f"/idx/{docs[0]['_id']}/_aknn_search?k1=50&k2=5")
        bad = [{"_id": docs[0]["_id"], "_source": {"_aknn_vector": [1.0, 2.0]}}]
        try:
            _post_raw(srv.port, "/_aknn_index", {"model": "m", "_index": "idx", "docs": bad})
            raise AssertionError("expected 400 for wrong-dimension vector")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        after = _http_get(srv.port, f"/idx/{docs[0]['_id']}/_aknn_search?k1=50&k2=5")
        assert after == before, (before, after)
    finally:
        srv.stop()


def test_http_non_numeric_unknown_id_is_200_empty(spark):
    """r11 review: a NON-NUMERIC unknown id on a bigint-pinned index must
    also take the 200/zero-hits path (not a 400 from int())."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        res = _http_get(srv.port, "/idx/not-a-number/_aknn_search?k1=50&k2=5")
        assert res == {"timed_out": False, "hits": {"total": 0, "hits": []}}, res
    finally:
        srv.stop()


def _delete_raw(port, path):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", method="DELETE")
    return urllib.request.urlopen(req)


def test_http_delete_doc_200_404_and_matches_fresh(spark):
    """r12 (#161): DELETE /{index}/{id} removes the stored doc (200
    result:deleted), a repeat or unknown id is a 404 result:not_found, and
    post-delete searches equal a fresh server indexed without the doc."""
    docs = _sample_docs(spark, n=96)
    victim = docs[3]["_id"]
    srv = _serve(spark, docs, batches=2)
    fresh = _serve(
        spark,
        [d for d in docs if d["_id"] != victim],
        sample=docs[:24],
    )
    try:
        res = _json.loads(_delete_raw(srv.port, f"/idx/{victim}").read())
        assert res["result"] == "deleted", res
        for bad in (victim, 999999, "not-a-number"):
            try:
                _delete_raw(srv.port, f"/idx/{bad}")
                raise AssertionError(f"expected 404 deleting {bad!r}")
            except urllib.error.HTTPError as e:
                assert e.code == 404
                assert _json.loads(e.read())["result"] == "not_found"
        # deleted doc searches as unknown: 200 with zero hits
        res = _http_get(srv.port, f"/idx/{victim}/_aknn_search?k1=50&k2=5")
        assert res["hits"]["total"] == 0, res
        # remaining corpus serves exactly like a never-indexed-it twin
        for qid in (docs[0]["_id"], docs[40]["_id"]):
            a = _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
            b = _http_get(fresh.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
            assert a == b, (qid, a, b)
    finally:
        srv.stop()
        fresh.stop()


def test_http_bulk_delete_empties_directories(spark):
    """r12: POST /_aknn_delete purges a whole id set in one request and
    reports the count; a docs id_bucket directory emptied by
    the purge is physically removed (the index_store helper's emptied-dir
    contract) while surviving buckets keep serving."""
    import os as _os

    from pyspark.sql import functions as F

    docs = _sample_docs(spark, n=64)
    srv = _serve(spark, docs, batches=2)
    try:
        stored = srv._cached_docs("idx").select("_id", "id_bucket").collect()
        by_bucket: dict[int, list] = {}
        for r in stored:
            by_bucket.setdefault(int(r.id_bucket), []).append(r._id)
        # kill every doc of one bucket (plus one from another: the bulk
        # request spans buckets) -> that directory must vanish
        doomed_bucket = min(by_bucket)
        other_bucket = max(by_bucket)
        assert doomed_bucket != other_bucket
        doomed = by_bucket[doomed_bucket] + by_bucket[other_bucket][:1]
        out = _http_post(srv.port, "/_aknn_delete", {"_index": "idx", "ids": doomed})
        assert out["deleted"] == len(doomed), (out, len(doomed))
        ddir = _os.path.join(srv._docs_path("idx"), f"id_bucket={doomed_bucket}")
        assert not _os.path.isdir(ddir), "emptied id_bucket dir must be removed"
        survivor = next(i for i in by_bucket[other_bucket] if i not in doomed)
        res = _http_get(srv.port, f"/idx/{survivor}/_aknn_search?k1=50&k2=5")
        assert res["hits"]["total"] == 5
        # no purged id may reappear as a neighbor
        assert not set(h["_id"] for h in res["hits"]["hits"]) & set(doomed)
        # idempotent: the same bulk request now deletes nothing
        assert _http_post(srv.port, "/_aknn_delete", {"_index": "idx", "ids": doomed})["deleted"] == 0
    finally:
        srv.stop()


def test_http_torn_marker_503_and_drop_recovers(spark):
    """r12 (ADVICE r11): a surviving dirty marker (crash mid-mutation) must
    turn every serving and mutating request into a DETECTED 503, not
    silently-served recall loss; DELETE /{index} is the recovery path —
    it drops data + marker and a re-index serves again."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        qid = docs[0]["_id"]
        assert _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")["hits"]["total"] == 5
        # simulate the crash: marker on disk, snapshot caches gone
        # (every real mutation pops them before the marker could stay)
        open(srv._dirty_marker("idx"), "w").close()
        srv._docs_cache.clear()
        srv._terms_cache.clear()
        for req in (
            lambda: _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5"),
            lambda: _post_raw(srv.port, "/_aknn_index", {"model": "m", "_index": "idx", "docs": docs[:4]}),
            lambda: _delete_raw(srv.port, f"/idx/{qid}"),
        ):
            try:
                req()
                raise AssertionError("expected 503 on a torn index")
            except urllib.error.HTTPError as e:
                assert e.code == 503, e.code
                assert "TornIndexError" in _json.loads(e.read())["error"]
        # recovery: drop the index (works WHILE torn), then re-index
        assert _json.loads(_delete_raw(srv.port, "/idx").read())["acknowledged"]
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "idx", "docs": docs})
        assert _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")["hits"]["total"] == 5
        # a successful mutation leaves no marker behind
        import os as _os

        assert not _os.path.exists(srv._dirty_marker("idx"))
    finally:
        srv.stop()


def test_http_bulk_ingest_stage_refresh(spark):
    """r12 (#162): refresh=false stages without touching the live store
    (searches keep serving the pre-stage state — ES NRT), /_aknn_refresh
    merges with last-staged-occurrence-of-an-id-wins across batches, the
    merged server equals a fresh immediate-mode twin indexed with the
    final state, and an empty refresh is a no-op."""
    docs = _sample_docs(spark, n=96)
    moved = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:16]
    ]
    stale = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [3.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:8]
    ]
    final = moved + docs[16:]
    srv = _serve(spark, docs, batches=2)
    fresh = _serve(spark, final, batches=2, sample=docs[:24])
    try:
        qid = docs[0]["_id"]
        before = _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
        # stage two batches: the stale versions first, the real moved
        # versions second — refresh must apply the LATER batch
        for batch in (stale, moved):
            out = _http_post(
                srv.port,
                "/_aknn_index",
                {"model": "m", "_index": "idx", "docs": batch, "refresh": False},
            )
            assert out["staged"] == len(batch), out
        # staged batches are invisible until refresh (ES NRT)
        assert _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5") == before
        out = _http_post(srv.port, "/_aknn_refresh", {"_index": "idx"})
        assert out["merged"] == len(moved), out
        for q in (docs[0]["_id"], docs[5]["_id"], docs[40]["_id"]):
            a = _http_get(srv.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            b = _http_get(fresh.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            assert a == b, (q, a, b)
        # nothing staged -> refresh is a cheap no-op
        assert _http_post(srv.port, "/_aknn_refresh", {"_index": "idx"})["merged"] == 0
    finally:
        srv.stop()
        fresh.stop()


def test_http_bulk_staging_survives_restart_and_drop_clears_it(spark):
    """r12 (#162): staged batches live on disk with their batch_seq, so a
    NEW server over the same root re-derives the sequence (later staged
    batches still win) and can refresh work staged before the restart;
    DELETE /{index} clears staging too. Also: an index that exists ONLY
    as staging pins the _id type for later staged batches."""
    import tempfile as _tempfile

    docs = _sample_docs(spark, n=48)
    moved = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:8]
    ]
    root = _tempfile.mkdtemp(prefix="enn_http_test_")
    srv = AknnHttpServer(spark, root).start()
    try:
        _http_post(srv.port, "/_aknn_create",
                   {"_id": "m", "nb_tables": 4, "nb_bits_per_table": 3, "docs": docs[:24]})
        _http_post(srv.port, "/_aknn_index",
                   {"model": "m", "_index": "idx", "docs": docs, "refresh": False})
        # staged-only index pins the id type: a string-id staged batch 400s
        try:
            _post_raw(srv.port, "/_aknn_index",
                      {"model": "m", "_index": "idx", "refresh": False,
                       "docs": [{"_id": "s-0", "_source": docs[0]["_source"]}]})
            raise AssertionError("expected 400 for string ids on bigint-staged index")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()
    srv2 = AknnHttpServer(spark, root).start()
    fresh = _serve(spark, moved + docs[8:], sample=docs[:24])
    try:
        # staged AFTER the restart, must still sort after the first batch
        _http_post(srv2.port, "/_aknn_index",
                   {"model": "m", "_index": "idx", "docs": moved, "refresh": False})
        assert _http_post(srv2.port, "/_aknn_refresh", {"_index": "idx"})["merged"] == len(docs)
        for q in (docs[0]["_id"], docs[20]["_id"]):
            a = _http_get(srv2.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            b = _http_get(fresh.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            assert a == b, (q, a, b)
        # drop clears staging alongside data + marker
        _http_post(srv2.port, "/_aknn_index",
                   {"model": "m", "_index": "idx", "docs": docs[:4], "refresh": False})
        assert _json.loads(_delete_raw(srv2.port, "/idx").read())["acknowledged"]
        assert _http_post(srv2.port, "/_aknn_refresh", {"_index": "idx"})["merged"] == 0
    finally:
        srv2.stop()
        fresh.stop()


def test_http_concurrent_searches_during_mutations(spark):
    """r12 (r11 verdict stretch 8): the ThreadingHTTPServer + shared
    SparkSession serving claim under an actual race — search GETs fired
    continuously from several threads WHILE the main thread replaces and
    deletes docs. Every response must be a well-formed 200 equal to either
    the pre- or post-mutation state (the RLock serializes Spark work), and
    the store must end exactly at the post-state."""
    import threading as _threading

    docs = _sample_docs(spark, n=64)
    moved = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:8]
    ]
    srv = _serve(spark, docs, batches=2)
    # twins for the two post-mutation states, built up front so every
    # racing response can be checked against a LINEARIZABLE state:
    # s1 = initial, s2 = after the replace, s3 = after the delete
    mid = _serve(spark, moved + docs[8:], sample=docs[:24])
    post = _serve(
        spark,
        [d for d in (moved + docs[8:]) if d["_id"] != docs[9]["_id"]],
        sample=docs[:24],
    )
    try:
        qid = docs[40]["_id"]
        states = [_http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")]
        for twin in (mid, post):
            s = _http_get(twin.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
            if s not in states:
                states.append(s)
        results: list = []
        errors: list = []
        stop = _threading.Event()

        def hammer():
            while not stop.is_set():
                try:
                    results.append(
                        _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
                    )
                except Exception as exc:  # noqa: BLE001 — collected for assert
                    errors.append(exc)

        threads = [_threading.Thread(target=hammer) for _ in range(4)]
        for t in threads:
            t.start()
        try:
            _http_post(srv.port, "/_aknn_index",
                       {"model": "m", "_index": "idx", "docs": moved})
            _http_post(srv.port, "/_aknn_delete",
                       {"_index": "idx", "ids": [docs[9]["_id"]]})
        finally:
            stop.set()
            for t in threads:
                t.join(timeout=120)
        assert not errors, errors[:3]
        assert results, "no concurrent search completed"
        bad = [r for r in results if r not in states]
        assert not bad, ("racing search returned a non-linearizable state", bad[:2])
        # the store settles at exactly the post-state twin
        for q in (docs[0]["_id"], docs[40]["_id"]):
            a = _http_get(srv.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            b = _http_get(post.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            assert a == b, (q, a, b)
    finally:
        srv.stop()
        mid.stop()
        post.stop()


def test_http_msearch_matches_per_id_both_modes(spark):
    """r13 (the r12 verdict's job-count item): POST /{index}/_aknn_msearch
    must return, per id and in request order, exactly the per-id GET's
    payload, with unknown and non-numeric ids
    keeping the 200/zero-hits contract inside a batch; and the batched
    store plan must keep literal PartitionFilters on the pruned reads."""
    from elastik_nearest_neighbors_spark import plans

    docs = _sample_docs(spark)
    srv = _serve(spark, docs, batches=2)
    try:
        ids = [docs[0]["_id"], 99999999, docs[7]["_id"], "zzz", docs[123]["_id"]]
        out = _http_post(
            srv.port, "/idx/_aknn_msearch", {"ids": ids, "k1": 50, "k2": 5}
        )
        assert len(out["responses"]) == len(ids)
        for d, r in zip(ids, out["responses"]):
            single = _http_get(srv.port, f"/idx/{d}/_aknn_search?k1=50&k2=5")
            assert r == single, d
        assert out["responses"][1]["hits"]["total"] == 0
        assert out["responses"][3]["hits"]["total"] == 0
        assert out["responses"][0]["hits"]["total"] > 0
        df = srv._msearch_store("idx", [docs[0]["_id"], docs[7]["_id"]], 50, 5)
        pf = " ".join(plans.partition_filters(df))
        assert "tbl" in pf and "bucket" in pf, plans.formatted_plan(df)
    finally:
        srv.stop()


def test_http_compact_shrinks_files_and_preserves_results(spark):
    """r13 (#163 wire compaction): POST /_aknn_compact must rewrite a
    multi-batch store's docs/ and terms/ into one file per partition
    directory with byte-identical search responses, and 400 an unknown
    index."""
    import glob
    import os

    docs = _sample_docs(spark)
    srv = _serve(spark, docs, batches=5)
    try:
        qids = [docs[0]["_id"], docs[7]["_id"], docs[123]["_id"]]
        before = [
            _http_get(srv.port, f"/idx/{q}/_aknn_search?k1=50&k2=5") for q in qids
        ]

        def max_files(sub):
            dirs = [
                d
                for d, _s, files in os.walk(os.path.join(srv.root, "indexes", "idx", sub))
                if any(f.endswith(".parquet") for f in files)
                for _ in [None]
            ]
            return max(
                len(glob.glob(os.path.join(d, "*.parquet"))) for d in dirs
            )

        assert max_files("terms") > 1  # the appends really did accumulate
        out = _http_post(srv.port, "/_aknn_compact", {"_index": "idx"})
        assert out == {"_index": "idx", "acknowledged": True, "compacted": True}
        assert max_files("terms") == 1
        assert max_files("docs") == 1
        after = [
            _http_get(srv.port, f"/idx/{q}/_aknn_search?k1=50&k2=5") for q in qids
        ]
        assert before == after
        try:
            _http_post(srv.port, "/_aknn_compact", {"_index": "nope"})
            raise AssertionError("unknown index must 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


def test_http_refresh_bulk_merge_path_matches_pruned(spark, monkeypatch):
    """r13 (ADVICE r12): with constants.REFRESH_BULK_ROWS forced to 1 the
    refresh merge runs the fully distributed whole-store path (no
    driver-side id list) — wire responses must equal a fresh
    immediate-mode twin indexed with the final state, including
    replace-of-existing + brand-new ids; and the swapped store lands
    compacted (one file per directory)."""
    import os

    from elastik_nearest_neighbors_spark import constants

    docs = _sample_docs(spark, n=96)
    moved = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:16]
    ]
    extra = [
        {"_id": 900000 + i,
         "_source": {"_aknn_vector": d["_source"]["_aknn_vector"]}}
        for i, d in enumerate(docs[:8])
    ]
    final = moved + docs[16:] + extra
    monkeypatch.setattr(constants, "REFRESH_BULK_ROWS", 1)
    srv = _serve(spark, docs, batches=2)
    fresh = _serve(spark, final, batches=2, sample=docs[:24])
    try:
        out = _http_post(
            srv.port,
            "/_aknn_index",
            {"model": "m", "_index": "idx", "docs": moved + extra, "refresh": False},
        )
        assert out["staged"] == len(moved) + len(extra), out
        out = _http_post(srv.port, "/_aknn_refresh", {"_index": "idx"})
        assert out["merged"] == len(moved) + len(extra), out
        for q in (docs[0]["_id"], docs[40]["_id"], extra[0]["_id"]):
            a = _http_get(srv.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            b = _http_get(fresh.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
            assert a == b, (q, a, b)
        for sub in ("docs", "terms"):
            base = os.path.join(srv.root, "indexes", "idx", sub)
            for d, _s, files in os.walk(base):
                pq = [f for f in files if f.endswith(".parquet")]
                assert len(pq) <= 1, (sub, d, pq)
    finally:
        srv.stop()
        fresh.stop()


def test_http_doc_get_200_404_both_modes(spark):
    """r13 (#163): GET /{index}/{id} returns the stored doc (found: true,
    exact vector round-trip) and 404s an unknown or non-numeric id."""
    docs = _sample_docs(spark, n=48)
    srv = _serve(spark, docs)
    try:
        d = docs[7]
        res = _http_get(srv.port, f"/idx/{d['_id']}")
        assert res["found"] is True and res["_id"] == d["_id"]
        assert res["_source"]["_aknn_vector"] == d["_source"]["_aknn_vector"]
        for missing in ("999999", "zzz"):
            try:
                urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/idx/{missing}")
                raise AssertionError("unknown id must 404")
            except urllib.error.HTTPError as e:
                assert e.code == 404
                assert _json.loads(e.read())["found"] is False
    finally:
        srv.stop()


def test_http_concurrent_mutations_on_different_indexes(spark):
    """r13 (r12 verdict stretch 7): concurrent mutations on DIFFERENT
    indexes — the `_mutating` set, staging-seq dict, and snapshot caches
    are shared state keyed by index name. Two threads replace/delete on
    their own index while searches hammer both; every response must be
    well-formed and each index must end exactly at its own fresh-twin
    state (no cross-index bleed)."""
    import threading as _threading

    docs = _sample_docs(spark, n=48)
    srv = AknnHttpServer(spark, tempfile.mkdtemp(prefix="enn_http_test_")).start()
    _http_post(srv.port, "/_aknn_create",
               {"_id": "m", "nb_tables": 4, "nb_bits_per_table": 3, "docs": docs[:24]})
    for idx in ("ia", "ib"):
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": idx, "docs": docs})
    moved = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:6]
    ]
    doomed_a, doomed_b = docs[9]["_id"], docs[11]["_id"]
    twin_a = _serve(spark, [d for d in (moved + docs[6:]) if d["_id"] != doomed_a],
                    sample=docs[:24])
    twin_b = _serve(spark, [d for d in (moved + docs[6:]) if d["_id"] != doomed_b],
                    sample=docs[:24])
    errors: list = []

    def mutate(idx, doomed):
        try:
            _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": idx, "docs": moved})
            _http_post(srv.port, "/_aknn_delete", {"_index": idx, "ids": [doomed]})
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    try:
        ta = _threading.Thread(target=mutate, args=("ia", doomed_a))
        tb = _threading.Thread(target=mutate, args=("ib", doomed_b))
        ta.start(); tb.start(); ta.join(); tb.join()
        assert not errors, errors
        qid = docs[40]["_id"]
        for idx, twin in (("ia", twin_a), ("ib", twin_b)):
            a = _http_get(srv.port, f"/{idx}/{qid}/_aknn_search?k1=50&k2=5")
            b = _http_get(twin.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
            assert a == b, (idx, a, b)
    finally:
        srv.stop(); twin_a.stop(); twin_b.stop()


def test_http_refresh_racing_bulk_stage(spark):
    """r13 (r12 verdict stretch 7): a /_aknn_refresh racing a refresh=false
    stage on the SAME index must linearize — the staged batch lands either
    in that refresh or in the next one, never lost or torn. After the
    final refresh the index equals the fresh twin of all docs."""
    import threading as _threading

    docs = _sample_docs(spark, n=48)
    srv = _serve(spark, docs[:24])
    twin = _serve(spark, docs, sample=docs[:24])
    errors: list = []

    def stage(batch):
        try:
            _http_post(srv.port, "/_aknn_index",
                       {"model": "m", "_index": "idx", "docs": batch, "refresh": False})
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    def refresh():
        try:
            _http_post(srv.port, "/_aknn_refresh", {"_index": "idx"})
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    try:
        threads = [
            _threading.Thread(target=stage, args=(docs[24:36],)),
            _threading.Thread(target=refresh),
            _threading.Thread(target=stage, args=(docs[36:],)),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        _http_post(srv.port, "/_aknn_refresh", {"_index": "idx"})  # drain stragglers
        qid = docs[30]["_id"]
        a = _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
        b = _http_get(twin.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
        assert a == b, (a, b)
    finally:
        srv.stop(); twin.stop()


def test_http_flat_layout_rejected(spark):
    """The server has one store layout; the legacy keyword cannot select
    another."""
    import pytest

    with pytest.raises(ValueError, match="store_backed=False"):
        AknnHttpServer(spark, tempfile.mkdtemp(prefix="enn_http_test_"), store_backed=False)


def test_http_dot_index_names_rejected(spark):
    """`.` and `..` fit the index-name alphabet but name the indexes root
    and the server root: a raw DELETE of either must 400 and leave the
    model catalog and every index in place. Sent through http.client,
    which (unlike urllib) does not normalize dot segments away."""
    import http.client
    import os

    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    try:
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "other", "docs": docs})
        for name in ("..", "."):
            conn = http.client.HTTPConnection("127.0.0.1", srv.port)
            try:
                conn.request("DELETE", f"/{name}")
                resp = conn.getresponse()
                body = _json.loads(resp.read())
            finally:
                conn.close()
            assert resp.status == 400, (name, resp.status, body)
            assert "bad index name" in body["error"], body
        assert os.path.isdir(os.path.join(srv.root, "models"))
        assert _http_get(srv.port, "/_aknn_models")["models"] == ["m"]
        for idx in ("idx", "other"):
            res = _http_get(srv.port, f"/{idx}/{docs[0]['_id']}/_aknn_search?k1=50&k2=5")
            assert res["hits"]["total"] == 5, (idx, res)
    finally:
        srv.stop()


def test_http_ids_coerced_to_pinned_type(spark):
    """Wire ids are coerced to the index's pinned _id type, the way the
    rows store them: on a string-pinned index a JSON int id finds the doc
    stored as its string (msearch used to 400 with a KeyError), and a null
    id is simply not found — 200 with zero hits (it used to 400 with a
    TypeError on a bigint index). delete_ids shares the coercion."""
    docs = _sample_docs(spark, n=32)
    srv = _serve(spark, docs)
    empty = {"timed_out": False, "hits": {"total": 0, "hits": []}}
    try:
        first = [dict(docs[0], _id="s-0")] + docs[1:]
        _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "sidx", "docs": first})
        n = docs[3]["_id"]
        out = _http_post(srv.port, "/sidx/_aknn_msearch", {"ids": [n, None], "k1": 50, "k2": 5})
        assert out["responses"][0] == _http_get(srv.port, f"/sidx/{n}/_aknn_search?k1=50&k2=5")
        assert out["responses"][0]["hits"]["total"] == 5, out
        assert out["responses"][1] == empty, out
        qid = docs[0]["_id"]
        out = _http_post(srv.port, "/idx/_aknn_msearch", {"ids": [None, qid], "k1": 50, "k2": 5})
        assert out["responses"][0] == empty, out
        assert out["responses"][1] == _http_get(srv.port, f"/idx/{qid}/_aknn_search?k1=50&k2=5")
        for index in ("idx", "sidx"):
            out = _http_post(srv.port, "/_aknn_delete", {"_index": index, "ids": [None]})
            assert out["deleted"] == 0, (index, out)
        assert _http_post(srv.port, "/_aknn_delete", {"_index": "sidx", "ids": [n]})["deleted"] == 1
    finally:
        srv.stop()


def test_http_non_integral_ids_not_found_on_bigint_index(spark):
    """On a bigint index a fractional float or a bool id cannot name a
    stored doc: `{"ids": [5.7]}` must not delete doc 5 (int(5.7) is 5) and
    `{"ids": [true]}` must not answer for doc 1 (int(True) is 1). Both take
    the not-found path, while "5" and 5.0 still address doc 5."""
    docs = _sample_docs(spark, n=32)
    assert {1, 5} <= {d["_id"] for d in docs}
    srv = _serve(spark, docs)
    try:
        out = _http_post(srv.port, "/_aknn_delete", {"_index": "idx", "ids": [5.7]})
        assert out["deleted"] == 0, out
        assert _http_get(srv.port, "/idx/5")["_id"] == 5
        out = _http_post(srv.port, "/idx/_aknn_msearch", {"ids": [True], "k1": 50, "k2": 5})
        assert out["responses"][0]["hits"]["total"] == 0, out
        out = _http_post(srv.port, "/idx/_aknn_msearch", {"ids": ["5", 5.0], "k1": 50, "k2": 5})
        want = _http_get(srv.port, "/idx/5/_aknn_search?k1=50&k2=5")
        assert out["responses"] == [want, want] and want["hits"]["total"] == 5, out
    finally:
        srv.stop()


def test_http_crash_mid_patch_is_503_and_drop_reindex_recovers(spark, monkeypatch):
    """Crash injection into the one patch path: the second pruned dynamic
    overwrite (docs/, after terms/ committed) raises, once inside a
    replace and once inside a delete. The next request must get a
    detected 503, and DELETE /{index} + re-index must answer exactly like
    a fresh twin."""
    from elastik_nearest_neighbors_spark.sources import index_store

    docs = _sample_docs(spark, n=48)
    moved = [
        {"_id": d["_id"],
         "_source": {"_aknn_vector": [2.0 * x for x in d["_source"]["_aknn_vector"]]}}
        for d in docs[:4]
    ]
    real = index_store.pruned_dynamic_overwrite
    qids = (docs[0]["_id"], docs[5]["_id"], docs[40]["_id"])
    srv = _serve(spark, docs)
    fresh = _serve(spark, docs)
    try:
        for path, body in (
            ("/_aknn_index", {"model": "m", "_index": "idx", "docs": moved}),
            ("/_aknn_delete", {"_index": "idx", "ids": [docs[5]["_id"]]}),
        ):
            calls: list = []

            def crash_on_second(*args, **kwargs):
                calls.append(args[1])
                if len(calls) == 2:
                    raise RuntimeError("injected crash between the two sides")
                return real(*args, **kwargs)

            monkeypatch.setattr(index_store, "pruned_dynamic_overwrite", crash_on_second)
            try:
                _post_raw(srv.port, path, body)
                raise AssertionError(f"{path}: the injected crash must fail the request")
            except urllib.error.HTTPError as e:
                assert "injected crash" in _json.loads(e.read())["error"]
            finally:
                monkeypatch.setattr(index_store, "pruned_dynamic_overwrite", real)
            assert [p.rsplit("/", 1)[-1] for p in calls] == ["terms", "docs"], calls
            try:
                _http_get(srv.port, f"/idx/{qids[0]}/_aknn_search?k1=50&k2=5")
                raise AssertionError(f"{path}: expected 503 after the crash")
            except urllib.error.HTTPError as e:
                assert e.code == 503, (path, e.code)
            assert _json.loads(_delete_raw(srv.port, "/idx").read())["acknowledged"]
            _http_post(srv.port, "/_aknn_index", {"model": "m", "_index": "idx", "docs": docs})
            for q in qids:
                a = _http_get(srv.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
                b = _http_get(fresh.port, f"/idx/{q}/_aknn_search?k1=50&k2=5")
                assert a == b, (path, q, a, b)
    finally:
        srv.stop()
        fresh.stop()
