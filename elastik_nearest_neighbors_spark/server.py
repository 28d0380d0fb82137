"""EsAknn-shaped HTTP serving surface (SURVEY §1; API-level citation — the
/root/reference checkout is empty).

The reference IS an HTTP service: an Elasticsearch plugin exposing three
endpoints. `api.py` provides the programmatic facade; this module puts the
actual wire protocol in front of it, with the reference's endpoint paths,
parameter names and document field names, using only the Python stdlib
(`http.server` — no new dependencies):

  POST /_aknn_create
      {"_id": <model name>, "nb_tables": T, "nb_bits_per_table": B,
       "nb_dimensions": D?, "docs": [{"_id": i,
       "_source": {"_aknn_vector": [...]}}, ...]}
      → fit the T×B midpoint-hyperplane model from the posted sample
      (the reference posts an explicit 2·T·B sample in the body) and
      store it BY NAME in the AknnModelRegistry catalog.

  POST /_aknn_index
      {"model": <model name>, "_index": <index name>, "docs": [...]}
      → hash the batch against the named model (Arrow-batched, narrow)
      and APPEND (_id, _aknn_vector, hashes) to the index's parquet
      store — hashes are stored WITH the docs, so search never needs
      the model, exactly like the plugin.

  GET /{index}/{id}/_aknn_search?k1=<int>&k2=<int>
      → read the STORED doc's hashes, term-match top-k1, exact
      euclidean re-rank, top-k2; response in the ES search shape:
      {"timed_out": false, "hits": {"total": k, "hits":
        [{"_id": ..., "_score": <distance>, "n_match": ...}, ...]}}

  GET /_aknn_models → {"models": [...]} (catalog listing).

  DELETE /{index}/{id} (r12) → remove one stored document (200
      "deleted" / 404 "not_found" — ES delete-by-id parity); bulk form
      POST /_aknn_delete {"_index": ..., "ids": [...]} → {"deleted": n}.
      A delete is a replace with no new rows: it patches only the doomed
      ids' term/docs directories.

  DELETE /{index} (r12) → drop the whole index (ES delete-index), and
      the recovery path for a torn index (see below).

  POST /_aknn_index with "refresh": false (r12) + POST /_aknn_refresh
      {"_index": ...} → ES near-real-time semantics: a refresh=false
      batch is HASHED and staged (one narrow append, no store jobs) but
      not searchable; /_aknn_refresh merges everything staged into the
      live store in ONE replace-on-index pass (last staged occurrence of
      an id wins, exactly ES op order). This is the wire BULK-LOAD path:
      per-request cost drops from ~8 store jobs to one append, and the
      merge pays the batch store builder's clustered writes once
      (measured on the 200k-vector step-up — BASELINE.md r12).

Every mutation runs under a per-index dirty marker: parquet has no
transaction log, so a crash mid-commit could leave mutually-inconsistent
docs/ and terms/ — the marker turns that into a DETECTED state (search
and further mutations answer 503 TornIndexError; DELETE /{index} +
re-index recovers) instead of silent recall loss.

Deployment shape: the server is a DRIVER-side facade — each request plans
a Spark job over the parquet-backed index (candidate generation is the
broadcast hash join; the corpus never shuffles per query). Every index
has ONE layout, the plugin's: each doc is stored next to its hash terms.
`docs/` holds (_id, _aknn_vector, hashes) partitioned by id_bucket =
pmod(xxhash64(_id), n), so a doc-by-id lookup prunes to ONE directory;
`terms/` holds the exploded terms partitioned by (tbl, bucket =
pmod(hash, n)) — exactly sources.index_store's LSH layout. A search
touches ≤ T of the T·n_buckets term directories plus one docs directory;
only the ≤ k1-candidate re-rank gather reads the docs table un-pruned
(the same shape the gated batch ann_search_lsh_store pays).
tests/test_server.py asserts the PartitionFilters in the served plan.

Index, delete and refresh share ONE patch path (`_replace_store`): the
doomed ids' stored rows and the new rows name the touched directories,
and each side is rewritten once by a pruned dynamic overwrite. A batch
that replaces nothing is a plain append; a corpus-sized refresh swaps in
a clustered rewrite of both sides instead (`_replace_store_bulk`).

Registry entries `aknn_http_search_store`, `aknn_http_upsert`,
`aknn_http_delete`, `aknn_http_bulk_ingest` and `aknn_http_doc_get` drive
the endpoints over a real localhost socket and gate the round-trip
against the shared oracles.
"""

from __future__ import annotations

import json
import os
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import constants
from .api import (
    ID_FIELD,
    VECTOR_FIELD,
    AknnModelRegistry,
    aknn_index,
)
from .constants import ANN_K1, ANN_K2, LSH_BITS, LSH_TABLES
from .sources.index_store import DEFAULT_HASH_BUCKETS, lsh_terms, write_clustered

# partition columns of the two sides of the one index layout
DOCS_PARTS = ["id_bucket"]
TERMS_PARTS = ["tbl", "bucket"]


def _id_bucket(id_col: Column) -> Column:
    return F.pmod(F.xxhash64(id_col), F.lit(DEFAULT_HASH_BUCKETS))


def _terms_of(hashed: DataFrame) -> DataFrame:
    """The terms/ rows of hashed docs: one `lsh_terms` row per table."""
    from .operators.lsh import explode_hashes

    return lsh_terms(explode_hashes(hashed.select(ID_FIELD, "hashes"), ID_FIELD, "vec_id"))


def _dirs(rows: list) -> tuple[set, set]:
    """(id_bucket dirs, (tbl, bucket) term dirs) that hold `rows`, each
    row carrying its id_bucket and hashes."""
    return (
        {int(r.id_bucket) for r in rows},
        {(t, int(h) % DEFAULT_HASH_BUCKETS) for r in rows for t, h in enumerate(r.hashes)},
    )


def _live_rows(
    docs: DataFrame, terms: DataFrame, ids_df: DataFrame, hashed, hint
) -> tuple[DataFrame, DataFrame]:
    """Per side, the stored rows minus `ids_df`'s ids, ∪ the new
    `hashed` rows (None: nothing new), in the stored column types.
    `hint` marks the id set for the anti-joins (F.broadcast for a
    request-sized batch)."""
    live_docs = docs.join(hint(ids_df), ID_FIELD, "left_anti")
    live_terms = lsh_terms(terms).join(
        hint(ids_df.select(F.col(ID_FIELD).alias("vec_id"))), "vec_id", "left_anti"
    )
    if hashed is not None:
        live_docs = live_docs.unionByName(
            hashed.withColumn(
                "id_bucket", F.col("id_bucket").cast(dict(docs.dtypes)["id_bucket"])
            )
        )
        live_terms = live_terms.unionByName(_terms_of(hashed))
    return live_docs, live_terms


class TornIndexError(RuntimeError):
    """A mutation crashed mid-commit and the on-disk index may be torn
    (multi-file parquet has no transaction log). Raised instead of serving
    possibly-inconsistent results; mapped to HTTP 503. Recovery: drop the
    index (DELETE /{index}) and re-index."""


class AknnHttpServer:
    """Three-endpoint EsAknn server over a SparkSession. Every index is
    served from the one partitioned store layout described in the module
    docstring.

    Binds 127.0.0.1 on an ephemeral port (`.port` after construction);
    `start()` serves on a daemon thread, `stop()` shuts down cleanly.
    Spark calls are serialized under one lock — the driver facade is the
    concurrency bottleneck by design (scale-out serving replicates the
    driver behind a load balancer, each replica reading the same store).
    """

    def __init__(self, spark: SparkSession, root: str, store_backed: bool = True):
        # the keyword survives only for callers written when a second
        # (flat) layout existed; True is the one layout there is
        if not store_backed:
            raise ValueError(
                "AknnHttpServer serves only the partitioned store layout; "
                "store_backed=False is not supported"
            )
        self.spark = spark
        self.root = root
        self.registry = AknnModelRegistry(os.path.join(root, "models"))
        # per-index docs/terms DataFrames, invalidated on every mutation: a
        # DataFrame's FileIndex snapshots the directory listing, so reusing
        # one across searches skips the per-request re-list + footer read
        # of the partitioned stores (measured ~2× per-search latency).
        # Searches prune the SNAPSHOT via PartitionFilters — for a
        # long-lived server this is the right 100 TB trade: one listing
        # amortized over every request, versus load_lsh_partitions'
        # per-call explicit-directory read, which is built for one-shot
        # batch jobs.
        self._docs_cache: dict[str, DataFrame] = {}
        self._terms_cache: dict[str, DataFrame] = {}
        # base path -> parquet schema for _pruned_dirs_df: a schema-less
        # read pays a one-task footer-inference Spark job per call, which
        # on the point-update path is pure driver latency (guide §5).
        # Invalidated with the sibling caches, so a recreated index with a
        # different mapping can never see a stale schema.
        self._pruned_schema: dict[str, object] = {}
        # next batch_seq per index for refresh=false staging; a cache miss
        # re-derives it from the staged parquet (max+1), so staged batches
        # survive a server restart with their order intact
        self._staging_seq: dict[str, int] = {}
        # pinned _id dtype per index (r12): the type is IMMUTABLE once the
        # first batch lands (that's the pinning rule), so unlike the
        # snapshot caches it survives mutations — without it every point
        # update re-listed the whole docs store just to re-learn a fact
        # that cannot change. Cleared only by drop_index.
        self._id_type_cache: dict[str, str] = {}
        # staged-only twin (an index that exists only as refresh=false
        # staging pins from its first STAGED batch); cleared on refresh
        # (the live store takes over) and on drop_index
        self._staged_id_type: dict[str, str] = {}
        # doc-by-id lookup cache (r12): a search is two Spark jobs — fetch
        # the stored query doc, then rank its candidates; a repeated GET of
        # the same doc (the ES hot-query reality) need not re-run the
        # fetch. (index, id) -> stored row, or None for an id not stored.
        # Invalidated per-index on every mutation, exactly like the
        # snapshot caches; FIFO-capped so a scan over many distinct ids
        # can't grow it unboundedly.
        self._doc_cache: dict[tuple, object] = {}
        # indexes with a mutation in flight (all ops serialize under the
        # lock): their own dirty marker must not trip _check_clean when a
        # snapshot cache misses mid-mutation
        self._mutating: set[str] = set()
        self._lock = threading.RLock()
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(self))
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    def start(self) -> "AknnHttpServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()

    # ---- endpoint logic (HTTP-independent; the handler is a thin shim) ----

    def _index_path(self, index: str) -> str:
        import re

        # "." and ".." fit the name alphabet but name the indexes root and
        # the server root: DELETE /.. would drop the model catalog too
        if index in (".", "..") or not re.fullmatch(r"[A-Za-z0-9._-]+", index):
            raise ValueError(f"bad index name: {index!r}")
        return os.path.join(self.root, "indexes", index)

    def _docs_path(self, index: str) -> str:
        return os.path.join(self._index_path(index), "docs")

    def _terms_path(self, index: str) -> str:
        return os.path.join(self._index_path(index), "terms")

    def _docs_df(self, docs: list[dict]) -> DataFrame:
        rows = [(d[ID_FIELD], [float(x) for x in d["_source"][VECTOR_FIELD]]) for d in docs]
        id_type = "bigint" if all(isinstance(r[0], int) for r in rows) else "string"
        return self.spark.createDataFrame(
            rows, f"{ID_FIELD} {id_type}, {VECTOR_FIELD} array<double>"
        )

    def _stored_id_type(self, index: str) -> str | None:
        """The _id dtype already persisted for this index, or None if the
        index has no data yet. Reads through the docs snapshot cache — a
        pre-append snapshot has the same schema, and a fresh
        spark.read.parquet here would re-list the partitioned store on
        every append batch (the exact cost the caches exist to avoid).
        LIVE store only — staged (unrefreshed) batches don't count; use
        _pinned_id_type where they must."""
        from . import io

        t = self._id_type_cache.get(index)
        if t is not None:
            return t
        if index not in self._docs_cache and not io.fs_isdir(
            self.spark, self._docs_path(index)
        ):
            return None
        t = dict(self._cached_docs(index).dtypes)[ID_FIELD]
        self._id_type_cache[index] = t
        return t

    def _pinned_id_type(self, index: str) -> str | None:
        """The _id dtype the index is committed to: the live store's, or —
        for an index that so far exists only as refresh=false staging —
        the staging schema's (the FIRST staged batch pins, like the first
        indexed batch does, or the merge would hit a schema split)."""
        from . import io

        t = self._stored_id_type(index)
        if t is not None:
            return t
        t = self._staged_id_type.get(index)
        if t is not None:
            return t
        sp = self._staging_path(index)
        if io.fs_isdir(self.spark, sp):
            t = dict(self.spark.read.parquet(sp).dtypes)[ID_FIELD]
            self._staged_id_type[index] = t
        return t

    def _pin_id_type(self, index: str, docs: DataFrame) -> DataFrame:
        """ADVICE r10: _docs_df infers the _id type PER BATCH (bigint iff
        every id is an int), so a later string-id batch would append string
        _id files next to bigint ones and break every subsequent search on
        schema merge. The id type is pinned by the index's FIRST batch:
        later int-id batches against a string-pinned index are cast
        (lossless), a string-id batch against a bigint-pinned index is
        rejected with a 400 (the caller's ids don't round-trip)."""
        pinned = self._pinned_id_type(index)
        batch = dict(docs.dtypes)[ID_FIELD]
        if pinned is None or pinned == batch:
            return docs
        if pinned == "string":
            return docs.withColumn(ID_FIELD, F.col(ID_FIELD).cast("string"))
        raise ValueError(
            f"index {index!r} pins {ID_FIELD} type {pinned}; "
            f"batch has {batch} ids — re-index under a new index name"
        )

    def _coerce_ids(self, id_type: str, raw_ids: list) -> list:
        """Wire ids coerced to the pinned id type, the way the stored rows
        carry them (a string-pinned index stores "5", not 5). A bigint
        index accepts a JSON int (not a bool), an integral float (5.0) or
        a decimal-integer string ("5"). An id that cannot exist in the
        index — null, a bool, a fractional float, any other string — is
        dropped: it keeps the not-found contract (200 / zero hits for a
        search, 404 for a GET or delete) instead of addressing another
        doc (int(5.7) is 5, int(True) is 1)."""
        out = []
        for i in raw_ids:
            if i is None:
                continue
            if id_type == "string":
                out.append(str(i))
            elif isinstance(i, int) and not isinstance(i, bool):
                out.append(i)
            elif isinstance(i, float) and i.is_integer():
                out.append(int(i))
            elif isinstance(i, str) and re.fullmatch(r"[+-]?[0-9]+", i):
                out.append(int(i))
        return out

    def create(self, body: dict) -> dict:
        name = body["_id"]
        nb_tables = int(body.get("nb_tables", LSH_TABLES))
        nb_bits = int(body.get("nb_bits_per_table", LSH_BITS))
        with self._lock:
            self.registry.create(
                name,
                self._docs_df(body["docs"]),
                nb_tables=nb_tables,
                nb_bits_per_table=nb_bits,
                nb_dimensions=body.get("nb_dimensions"),
            )
        return {
            "acknowledged": True,
            "_id": name,
            "nb_tables": nb_tables,
            "nb_bits_per_table": nb_bits,
        }

    def index(self, body: dict) -> dict:
        with self._lock:
            model = self.registry.get(body["model"])
            name = body["_index"]
            # ES semantics (the reference host's): indexing an existing _id
            # REPLACES the stored document, it does not append a duplicate.
            # Within one batch, the last occurrence of an id wins (ES
            # applies index ops in order); against the store, replaced ids'
            # rows are dropped in the SAME write that lands the new ones.
            posted = list({d[ID_FIELD]: d for d in body["docs"]}.values())
            docs = self._pin_id_type(name, self._docs_df(posted))
            hashed = aknn_index(docs, model).withColumn(
                "id_bucket", _id_bucket(F.col(ID_FIELD))
            )
            if body.get("refresh", True) is False:
                # bulk-load path: hash + ONE narrow staging append, no
                # store jobs; /_aknn_refresh merges. No checkpoint needed —
                # the append itself materializes (and validates) the batch,
                # and a failed append commits nothing (parquet job commit)
                self._stage(name, hashed)
                return {
                    "acknowledged": True,
                    "_index": name,
                    "staged": len(body["docs"]),
                }
            # hash + materialize BEFORE touching the store: a replace must
            # not destroy the stored doc when the incoming one is invalid
            # (wrong dimension etc. — the hash matmul fails HERE, with the
            # store untouched and the dirty marker unset)
            hashed = hashed.localCheckpoint(eager=True)
            self._mutate(name, self._replace_store, name, hashed)
        return {"acknowledged": True, "_index": body["_index"], "indexed": len(body["docs"])}

    # ---- torn-write detection (ADVICE r11): parquet has no transaction
    # log, so a crash mid-mutation can leave mutually-inconsistent docs/
    # and terms/. Every mutation runs under a marker; a surviving marker
    # turns silent recall loss into a refused, diagnosable state. ----

    def _dirty_marker(self, index: str) -> str:
        # '#' is outside the legal index-name alphabet (_index_path), so
        # the marker can never collide with another index's data directory
        return os.path.join(self.root, "indexes", f"{index}#dirty")

    def _check_clean(self, index: str) -> None:
        from . import io

        if index in self._mutating:
            return
        if io.fs_exists(self.spark, self._dirty_marker(index)):
            raise TornIndexError(
                f"index {index!r} has a torn write (a mutation crashed "
                "mid-commit); refusing to serve possibly-inconsistent "
                f"results — drop it (DELETE /{index}) and re-index"
            )

    def _mutate(self, index: str, fn, *args):
        """Run a store mutation under the torn-write marker: set it, run,
        clear it only on success. The marker sits OUTSIDE the data dir (a
        drop deletes the whole index dir — a marker inside it would vanish
        with the files it guards). Snapshot caches are dropped in all
        cases: a failure after files were rewritten must not leave them
        pointing at deleted parquet."""
        from . import io

        self._check_clean(index)
        marker = self._dirty_marker(index)
        io.fs_touch(self.spark, marker)
        self._mutating.add(index)
        try:
            out = fn(*args)
        finally:
            self._mutating.discard(index)
            self._invalidate(index)
        io.fs_delete(self.spark, marker)
        return out

    def _invalidate(self, index: str) -> None:
        """Drop every cache that points at the index's files: a mutation
        rewrote them, or a drop removed them."""
        self._docs_cache.pop(index, None)
        self._terms_cache.pop(index, None)
        self._pruned_schema.pop(self._docs_path(index), None)
        self._pruned_schema.pop(self._terms_path(index), None)
        for k in [k for k in self._doc_cache if k[0] == index]:
            del self._doc_cache[k]

    def _ids_df(self, ids: list, id_type: str) -> DataFrame:
        return self.spark.createDataFrame([(i,) for i in ids], f"{ID_FIELD} {id_type}")

    def _pruned_dirs_df(self, base: str, part_cols: list[str], keys) -> DataFrame | None:
        """Rows of exactly the named partition directories, read via
        EXPLICIT paths + basePath (r12): a mutation previously re-read the
        store through a fresh full snapshot (its FileIndex lists ALL
        T·n_buckets + n_buckets directories) because the previous mutation
        dropped the caches — the listing, not the data, dominated the
        point-update latency. Directories that don't exist are skipped
        (manifest-level probe); None = none of them do. The snapshot
        caches stay what they are good at: amortizing ONE listing over
        many searches."""
        from . import io

        dirs = []
        for k in keys:
            k = k if isinstance(k, (tuple, list)) else (k,)
            d = io.fs_join(base, *[f"{c}={int(v)}" for c, v in zip(part_cols, k)])
            if io.fs_isdir(self.spark, d):
                dirs.append(d)
        if not dirs:
            return None
        schema = self._pruned_schema.get(base)
        reader = self.spark.read.option("basePath", base)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(*dirs)
        if schema is None:
            self._pruned_schema[base] = df.schema
        return df

    def _replace_store(self, index: str, hashed: DataFrame | None, ids: list | None = None) -> int:
        """The one patch path: replace-on-index of the `hashed` batch's
        ids, or with hashed=None a delete of `ids` — a replace with no new
        rows. Returns the number of stored docs removed.

        The doomed ids' stored rows (their id_buckets and stored hashes)
        and the new rows name the touched directories; each side
        transitions old→new in ONE pruned dynamic overwrite carrying
        survivors ∪ new rows (r12: no window where a replaced doc is
        absent, nothing outside the touched set rewritten). A touched
        directory can empty only if it held doomed rows and gets no new
        ones, so the emptied-directory sweep runs unless doomed ⊆ new. A
        batch that replaces nothing is a plain append."""
        from .sources import index_store

        doomed: list = []
        id_type = self._stored_id_type(index)
        if id_type is not None:
            # the ids can only live in their own id_bucket dirs: a replace
            # knows them from the new rows, a delete hashes its ids
            if hashed is None:
                new = []
                ids_df = self._ids_df(ids, id_type)
                probe = {int(r[0]) for r in ids_df.select(_id_bucket(F.col(ID_FIELD))).collect()}
            else:
                new = hashed.select(ID_FIELD, "id_bucket", "hashes").collect()
                ids_df = self._ids_df([r[ID_FIELD] for r in new], id_type)
                probe = _dirs(new)[0]
            new_buckets, new_parts = _dirs(new)
            # explicit-path read of exactly those dirs — no store-wide
            # listing, see _pruned_dirs_df
            pruned = self._pruned_dirs_df(self._docs_path(index), DOCS_PARTS, probe)
            if pruned is not None:
                doomed = (
                    pruned.join(F.broadcast(ids_df), ID_FIELD, "left_semi")
                    .select("id_bucket", "hashes")
                    .collect()
                )
        if not doomed:
            if hashed is not None:
                self._append_store(index, hashed)
            return 0
        doomed_buckets, doomed_parts = _dirs(doomed)
        buckets = sorted(doomed_buckets | new_buckets)
        parts = sorted(doomed_parts | new_parts)
        # a doomed doc's term dirs exist, so the terms read is never None
        terms = self._pruned_dirs_df(self._terms_path(index), TERMS_PARTS, parts)
        live_docs, live_terms = _live_rows(
            pruned.where(index_store.partition_key_filter(DOCS_PARTS, buckets)),
            terms.where(index_store.partition_key_filter(TERMS_PARTS, parts)),
            ids_df,
            hashed,
            F.broadcast,
        )
        index_store.pruned_dynamic_overwrite(
            self.spark,
            self._terms_path(index),
            live_terms,
            TERMS_PARTS,
            parts,
            assume_live=doomed_parts <= new_parts,
        )
        index_store.pruned_dynamic_overwrite(
            self.spark,
            self._docs_path(index),
            live_docs,
            DOCS_PARTS,
            buckets,
            assume_live=doomed_buckets <= new_buckets,
        )
        return len(doomed)

    def _replace_store_bulk(self, index: str, latest: DataFrame) -> None:
        """Whole-store merge for bulk refreshes (r13, ADVICE r12): when the
        staged batch is corpus-sized, per-id pruning is pointless (it
        touches ~every directory anyway) and collecting the staged
        ids/hashes driver-side is O(corpus) driver memory. Merge fully
        distributed instead: survivors = live rows anti-joined against the
        staged-id DataFrame, unioned with the staged rows, clustered
        sibling-write + swap per side under the caller's torn-write
        marker. Content is row-identical to the pruned patch path — a test
        asserts it by forcing the threshold down — and the swapped store
        lands compacted (one file per directory) for free."""
        from .sources.index_store import clustered_overwrite_swap

        if self._stored_id_type(index) is None:
            live_docs, live_terms = latest, _terms_of(latest)
        else:
            live_docs, live_terms = _live_rows(
                self._cached_docs(index),
                self._cached_terms(index),
                latest.select(ID_FIELD),
                latest,
                lambda df: df,
            )
        clustered_overwrite_swap(self.spark, self._docs_path(index), live_docs, DOCS_PARTS)
        clustered_overwrite_swap(self.spark, self._terms_path(index), live_terms, TERMS_PARTS)

    def _append_store(self, index: str, hashed: DataFrame) -> None:
        """Append one all-new batch: docs/ by id_bucket, terms/ by
        (tbl, bucket) — sources.index_store's exact LSH layout (id column
        stored under its vec_id name so load_lsh_partitions reads it back
        verbatim). Per-batch appends accumulate one file per touched
        directory per batch; POST /_aknn_compact rewrites them."""
        write_clustered(hashed, self._docs_path(index), DOCS_PARTS, mode="append")
        write_clustered(_terms_of(hashed), self._terms_path(index), TERMS_PARTS, mode="append")

    # ---- refresh=false staging + /_aknn_refresh (r12, ES NRT parity):
    # staged batches are hashed but NOT searchable/deletable until refresh
    # — exactly ES's near-real-time contract. Staging lives beside the
    # data dir ('#' is outside the legal index-name alphabet, like the
    # dirty marker). ----

    def _staging_path(self, index: str) -> str:
        return os.path.join(self.root, "indexes", f"{index}#staging")

    def _stage(self, index: str, hashed: DataFrame) -> None:
        from . import io

        self._check_clean(index)
        path = self._staging_path(index)
        seq = self._staging_seq.get(index)
        if seq is None:
            seq = 0
            if io.fs_isdir(self.spark, path):
                row = self.spark.read.parquet(path).agg(F.max("batch_seq")).first()
                seq = int(row[0] or 0) + 1
        hashed.withColumn("batch_seq", F.lit(seq).cast("long")).write.mode(
            "append"
        ).parquet(path)
        self._staging_seq[index] = seq + 1
        self._staged_id_type.setdefault(index, dict(hashed.dtypes)[ID_FIELD])

    def refresh(self, index: str) -> dict:
        """POST /_aknn_refresh — merge everything staged into the live
        store in one replace-on-index pass. The last staged occurrence of
        an id wins (batch_seq rank — ES applies index ops in order); the
        merge runs under the dirty marker like any mutation, and staging
        is deleted only after both sides commit, so a crash either leaves
        the staged batches intact (re-refresh) or a detected-torn index
        (drop + re-index — drop_index clears staging too). Above
        constants.REFRESH_BULK_ROWS staged rows the merge never collects
        them: distributed anti-join + clustered swap."""
        from . import io
        from pyspark.sql import Window

        with self._lock:
            path = self._staging_path(index)
            if not io.fs_isdir(self.spark, path):
                return {"_index": index, "refreshed": True, "merged": 0}
            staged = self.spark.read.parquet(path)
            w = Window.partitionBy(ID_FIELD).orderBy(F.desc("batch_seq"))
            latest = (
                staged.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .drop("rn", "batch_seq")
                .localCheckpoint(eager=True)
            )
            n_staged = latest.count()
            merge = (
                self._replace_store_bulk
                if n_staged > constants.REFRESH_BULK_ROWS
                else self._replace_store
            )

            def _merge() -> None:
                merge(index, latest)
                io.fs_delete(self.spark, path)

            self._mutate(index, _merge)
            self._staging_seq.pop(index, None)
            self._staged_id_type.pop(index, None)
            return {"_index": index, "refreshed": True, "merged": n_staged}

    def compact(self, index: str) -> dict:
        """POST /_aknn_compact — rewrite the index's accumulated append
        files into the canonical one-file-per-directory clustered layout
        (r13, the r12 verdict's wire-compaction item: every append-mode
        mutation leaves one file per touched directory, and 40-50 files
        per directory was the measured cost floor of the upsert/delete
        serving drives). Runs compact_in_place on both sides under the
        torn-write marker; served rows are unchanged — same content, same
        partition values, fewer files — so the gated results are
        identical by construction."""
        from . import io
        from .sources.index_store import compact_in_place

        with self._lock:
            if not io.fs_isdir(self.spark, self._docs_path(index)):
                raise ValueError(f"no such index: {index!r}")

            def _run() -> None:
                compact_in_place(self.spark, self._docs_path(index), DOCS_PARTS)
                compact_in_place(self.spark, self._terms_path(index), TERMS_PARTS)

            self._mutate(index, _run)
        return {"_index": index, "acknowledged": True, "compacted": True}

    def delete_ids(self, index: str, raw_ids: list) -> int:
        """Bulk document delete — ES DELETE-parity (r11 verdict item 1),
        shared by the single-doc DELETE /{index}/{id} endpoint and the
        bulk POST /_aknn_delete. Returns the number of stored docs
        actually removed (0 → HTTP 404 at the wire)."""
        with self._lock:
            pinned = self._stored_id_type(index)
            ids = [] if pinned is None else self._coerce_ids(pinned, raw_ids)
            if not ids:
                return 0
            return self._mutate(index, self._replace_store, index, None, ids)

    def drop_index(self, index: str) -> bool:
        """DELETE /{index} — ES's delete-index, and the documented recovery
        path for a torn index: data dir and dirty marker both go (so this
        must NOT itself refuse on dirty)."""
        from . import io

        with self._lock:
            path = self._index_path(index)
            existed = io.fs_isdir(self.spark, path)
            for p in (path, self._dirty_marker(index), self._staging_path(index)):
                io.fs_delete(self.spark, p)
            for cache in (self._staging_seq, self._staged_id_type, self._id_type_cache):
                cache.pop(index, None)
            self._invalidate(index)
        return existed

    def _cached_docs(self, index: str) -> DataFrame:
        df = self._docs_cache.get(index)
        if df is None:
            # cache miss is the one per-mutation re-entry point (every
            # mutation pops the caches), so the torn-write check here
            # covers all serving paths at zero cost to cached requests
            self._check_clean(index)
            df = self.spark.read.parquet(self._docs_path(index))
            self._docs_cache[index] = df
        return df

    def _cached_terms(self, index: str) -> DataFrame:
        df = self._terms_cache.get(index)
        if df is None:
            self._check_clean(index)
            df = self.spark.read.parquet(self._terms_path(index))
            self._terms_cache[index] = df
        return df

    def _query_docs_df(self, index: str, ids: list) -> DataFrame:
        """The stored docs of `ids`, read from their id_bucket directories:
        xxhash64(lit) constant-folds, so each id's bucket predicate lands
        in the scan's PartitionFilters as a literal equality, OR-ed across
        ids (asserted by tests/test_server.py). The lit is cast to the
        pinned id type — xxhash64 is type-sensitive, so an int literal
        probing a bigint-written bucket column must hash as bigint."""
        docs = self._cached_docs(index)
        id_type = dict(docs.dtypes)[ID_FIELD]
        pred = None
        for d in ids:
            q = F.lit(d).cast(id_type)
            c = (F.col("id_bucket") == _id_bucket(q)) & (F.col(ID_FIELD) == q)
            pred = c if pred is None else pred | c
        return docs.where(pred)

    def _stored_docs(self, index: str, ids: list) -> dict:
        """Coerced id -> stored doc row (None: not stored), through the
        per-id doc cache; every cache miss shares ONE pruned read."""
        out = {d: self._doc_cache[(index, d)] for d in ids if (index, d) in self._doc_cache}
        missing = dict.fromkeys(d for d in ids if d not in out)
        if missing:
            for r in self._query_docs_df(index, list(missing)).collect():
                missing[r[ID_FIELD]] = r
            for d, r in missing.items():
                if len(self._doc_cache) >= 4096:  # FIFO cap
                    self._doc_cache.pop(next(iter(self._doc_cache)))
                self._doc_cache[(index, d)] = r
            out.update(missing)
        return out

    def _msearch_store(self, index: str, ids: list, k1: int, k2: int) -> DataFrame | None:
        """The pruned serving read for a BATCH of coerced query ids,
        returned BEFORE the collect so tests can assert its physical plan
        (None when no id is stored): the query docs come from their
        ≤ |batch| id_bucket directories (_query_docs_df), candidates from
        the ≤ Q·T probed (tbl, bucket) term directories of the cached
        terms snapshot; only the ≤ Q·k1 re-rank vector gather touches
        docs/ un-pruned.

        r13 (the r12 verdict's job-count item): batching is where the
        per-request fixed driver cost goes away — Q queries share ONE
        stored-doc fetch job and ONE ranked-collect job instead of Q of
        each, and per-query results are bit-identical to the single-id
        path because every rank window partitions by query_id."""
        from .operators.knn import rank_term_matches
        from .sources.index_store import partition_key_filter

        docs = self._cached_docs(index)
        id_type = dict(docs.dtypes)[ID_FIELD]
        found = [(d, q) for d, q in self._stored_docs(index, ids).items() if q is not None]
        if not found:
            return None
        q_exp = self.spark.createDataFrame(
            [(d, t, int(h)) for d, q in found for t, h in enumerate(q["hashes"])],
            f"query_id {id_type}, tbl int, hash bigint",
        )
        # prune the cached terms snapshot to the ≤ Q·T probed (tbl, bucket)
        # directories — same packed-key IN PartitionFilters shape as
        # load_lsh_partitions, without its per-call listing (see the
        # _terms_cache note in __init__); deduped across queries sharing
        # buckets. (r13: was an OR-of-literals tree — building that
        # ~Q·T-way Column tree cost seconds of py4j round-trips per
        # msearch batch at T=16; packed IN is one expression.)
        idx_exp = (
            self._cached_terms(index)
            .where(partition_key_filter(TERMS_PARTS, sorted(_dirs([q for _d, q in found])[1])))
            .select(F.col("vec_id").alias("neighbor_id"), "tbl", "hash")
        )
        counts = (
            idx_exp.join(F.broadcast(q_exp), ["tbl", "hash"])
            .where(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(F.count(F.lit(1)).alias("n_match"))
        )
        query_df = self.spark.createDataFrame(
            [(d, list(q[VECTOR_FIELD])) for d, q in found],
            f"{ID_FIELD} {id_type}, {VECTOR_FIELD} array<double>",
        )
        return rank_term_matches(
            counts, docs, query_df, k1, k2, ID_FIELD, VECTOR_FIELD
        )

    def msearch(self, index: str, doc_ids: list, k1: int = ANN_K1, k2: int = ANN_K2) -> dict:
        """Batched search — ES `_msearch` parity, JSON-body form: one
        response per requested id, in request order, each identical to the
        single-id GET's payload. Q queries cost ONE ranked-collect job
        (plus one batched stored-doc fetch on cache miss) instead of Q."""
        with self._lock:
            id_type = dict(self._cached_docs(index).dtypes)[ID_FIELD]
            ranked = self._msearch_store(index, self._coerce_ids(id_type, doc_ids), k1, k2)
            rows = (
                []
                if ranked is None
                else ranked.orderBy(
                    F.asc("query_id"), F.asc("distance"), F.asc("neighbor_id")
                ).collect()
            )
        by_qid: dict = {}
        for r in rows:
            by_qid.setdefault(r.query_id, []).append(r)
        responses = []
        for d in doc_ids:
            keyed = self._coerce_ids(id_type, [d])
            hits = by_qid.get(keyed[0], []) if keyed else []
            responses.append(
                {
                    "timed_out": False,
                    "hits": {
                        "total": len(hits),
                        "hits": [
                            {"_id": r.neighbor_id, "_score": r.distance, "n_match": r.n_match}
                            for r in hits
                        ],
                    },
                }
            )
        return {"responses": responses}

    def search(self, index: str, doc_id, k1: int = ANN_K1, k2: int = ANN_K2) -> dict:
        return self.msearch(index, [doc_id], k1, k2)["responses"][0]

    def get_doc(self, index: str, doc_id) -> dict | None:
        """ES GET /{index}/{id} parity (r13, #163): the stored document's
        source vector, or None → the handler's 404. Reads the id's single
        pruned id_bucket directory through the same per-id cache the
        serving path warms. JSON round-trips the doubles exactly, so the
        wire doc equals the stored doc bit-for-bit."""
        with self._lock:
            id_type = dict(self._cached_docs(index).dtypes)[ID_FIELD]
            ids = self._coerce_ids(id_type, [doc_id])
            q = self._stored_docs(index, ids)[ids[0]] if ids else None
        if q is None:
            return None
        return {
            "_index": index,
            "_id": q[ID_FIELD],
            "found": True,
            "_source": {VECTOR_FIELD: list(q[VECTOR_FIELD])},
        }

    def models(self) -> dict:
        return {"models": self.registry.names()}


def _make_handler(server: AknnHttpServer):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:  # keep test output clean
            pass

        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _body(self) -> dict:
            n = int(self.headers.get("Content-Length", "0"))
            return json.loads(self.rfile.read(n) or b"{}")

        def do_POST(self) -> None:
            try:
                if self.path == "/_aknn_create":
                    self._reply(200, server.create(self._body()))
                elif self.path == "/_aknn_index":
                    self._reply(200, server.index(self._body()))
                elif self.path == "/_aknn_delete":
                    body = self._body()
                    n = server.delete_ids(body["_index"], body["ids"])
                    self._reply(200, {"_index": body["_index"], "deleted": n})
                elif self.path == "/_aknn_refresh":
                    self._reply(200, server.refresh(self._body()["_index"]))
                elif self.path == "/_aknn_compact":
                    self._reply(200, server.compact(self._body()["_index"]))
                elif self.path.endswith("/_aknn_msearch"):
                    # ES _msearch parity (JSON-body form): POST
                    # /{index}/_aknn_msearch {"ids": [...], "k1":, "k2":}
                    parts = [p for p in self.path.split("/") if p]
                    if len(parts) != 2:
                        self._reply(404, {"error": f"no such endpoint: {self.path}"})
                        return
                    body = self._body()
                    self._reply(
                        200,
                        server.msearch(
                            parts[0],
                            body["ids"],
                            int(body.get("k1", ANN_K1)),
                            int(body.get("k2", ANN_K2)),
                        ),
                    )
                else:
                    self._reply(404, {"error": f"no such endpoint: {self.path}"})
            except TornIndexError as exc:
                self._reply(503, {"error": f"{type(exc).__name__}: {exc}"})
            except Exception as exc:  # noqa: BLE001 — wire boundary
                self._reply(400, {"error": f"{type(exc).__name__}: {exc}"})

        def do_GET(self) -> None:
            try:
                from urllib.parse import parse_qs, urlparse

                parsed = urlparse(self.path)
                parts = [p for p in parsed.path.split("/") if p]
                if parsed.path == "/_aknn_models":
                    self._reply(200, server.models())
                elif len(parts) == 3 and parts[2] == "_aknn_search":
                    q = parse_qs(parsed.query)
                    self._reply(
                        200,
                        server.search(
                            parts[0],
                            parts[1],
                            int(q.get("k1", [ANN_K1])[0]),
                            int(q.get("k2", [ANN_K2])[0]),
                        ),
                    )
                elif len(parts) == 2 and not parts[1].startswith("_"):
                    # ES doc-GET parity: GET /{index}/{id} → stored doc
                    doc = server.get_doc(parts[0], parts[1])
                    if doc is None:
                        self._reply(
                            404,
                            {"_index": parts[0], "_id": parts[1], "found": False},
                        )
                    else:
                        self._reply(200, doc)
                else:
                    self._reply(404, {"error": f"no such endpoint: {self.path}"})
            except TornIndexError as exc:
                self._reply(503, {"error": f"{type(exc).__name__}: {exc}"})
            except Exception as exc:  # noqa: BLE001 — wire boundary
                self._reply(400, {"error": f"{type(exc).__name__}: {exc}"})

        def do_DELETE(self) -> None:
            # ES wire parity: DELETE /{index} drops the index (also the
            # torn-write recovery path); DELETE /{index}/{id} deletes one
            # document with 200 deleted / 404 not_found semantics
            try:
                parts = [p for p in self.path.split("/") if p]
                if len(parts) == 1:
                    found = server.drop_index(parts[0])
                    self._reply(200 if found else 404, {"acknowledged": found})
                elif len(parts) == 2:
                    n = server.delete_ids(parts[0], [parts[1]])
                    self._reply(
                        200 if n else 404,
                        {
                            "_index": parts[0],
                            "_id": parts[1],
                            "result": "deleted" if n else "not_found",
                        },
                    )
                else:
                    self._reply(404, {"error": f"no such endpoint: {self.path}"})
            except TornIndexError as exc:
                self._reply(503, {"error": f"{type(exc).__name__}: {exc}"})
            except Exception as exc:  # noqa: BLE001 — wire boundary
                self._reply(400, {"error": f"{type(exc).__name__}: {exc}"})

    return Handler


# server + indexed store, once per (SparkContext, sf_dir, tag) — the
# facade's create+index phase is index MAINTENANCE; repeat calls measure
# serving
_SERVER_CACHE: dict[tuple, AknnHttpServer] = {}


def _http_post(port: int, path: str, payload: dict) -> dict:
    from urllib.request import Request, urlopen

    req = Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urlopen(req) as resp:
        out = json.loads(resp.read())
    if "error" in out:
        raise RuntimeError(f"{path}: {out['error']}")
    return out


def _http_get(port: int, path: str) -> dict:
    from urllib.request import urlopen

    with urlopen(f"http://127.0.0.1:{port}{path}") as resp:
        out = json.loads(resp.read())
    if "error" in out:
        raise RuntimeError(f"{path}: {out['error']}")
    return out


def aknn_http_search_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (SURVEY §2 #156/#157): the three HTTP endpoints
    driven over a real localhost socket — model fit via POST /_aknn_create
    (the canonical 2·T·B sample posted in the body), the full embeddings
    table POSTed through /_aknn_index in batches into the partitioned
    store (docs/ by id_bucket, terms/ by (tbl, bucket)), and the canonical
    query ids searched — then the JSON hit lists reassembled into the
    (query_id, neighbor_id, n_match, distance) frame. Gated by the shared
    ann_search_lsh oracle: the wire round-trip (JSON floats both
    directions — exact, shortest-repr) and the pruned serving path must be
    bit-identical to the in-memory search path."""
    return _drive_endpoints(spark, sf_dir)


def aknn_http_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (SURVEY §2 #160, r11): the reference's REPLACE
    semantics over the wire. An ES index op with an existing _id replaces
    the stored document — so `/_aknn_index` drops incoming ids' stored
    rows in the same pruned dynamic overwrite that lands the new ones (the
    ≤ |batch| docs directories and the old and new term directories).
    The drive posts the full table, then RE-POSTS the canonical update set
    (vec_id % UPSERT_MOD == 0, every component doubled — IEEE-exact, and
    JSON round-trips doubles exactly) through the same endpoint against
    the pruned store layout, then searches. Gated by the index_upsert
    oracle: the wire replace must equal a full index rebuild on the
    updated table, so a leaked stale row (hash or vector) from the
    replaced docs fails the hash gate."""
    from .constants import UPSERT_MOD

    def update(docs: list[dict]) -> list[dict]:
        return [
            {
                ID_FIELD: d[ID_FIELD],
                "_source": {
                    VECTOR_FIELD: [2.0 * x for x in d["_source"][VECTOR_FIELD]]
                },
            }
            for d in docs
            if d[ID_FIELD] % UPSERT_MOD == 0
        ]

    return _drive_endpoints(spark, sf_dir, tag="upsert", repost=update)


def aknn_http_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (SURVEY §2 #161, r12): ES document-DELETE parity —
    the last wire CRUD gap (r11 verdict item 1; ES serves DELETE
    /{index}/{id} natively, and a GDPR purge hits it immediately). The
    drive posts the full table into the pruned store layout, bulk-deletes
    the canonical purge set (vec_id % DELETE_MOD == DELETE_REM) over the
    wire via POST /_aknn_delete — the single-doc DELETE /{index}/{id}
    endpoint runs the same delete_ids path with 200 deleted / 404
    not_found semantics, unit-tested — then searches every
    canonical query id. Gated by the shared index_delete oracle: the wire
    purge must equal a full rebuild on the filtered corpus; a purged QUERY
    id returns zero hits (unknown-id semantics) and so contributes no rows
    — exactly rebuild semantics."""
    from .constants import DELETE_MOD, DELETE_REM

    def purge(port: int, docs: list[dict]) -> None:
        doomed = [
            d[ID_FIELD] for d in docs if d[ID_FIELD] % DELETE_MOD == DELETE_REM
        ]
        out = _http_post(port, "/_aknn_delete", {"_index": "vectors", "ids": doomed})
        if out["deleted"] != len(doomed):
            raise RuntimeError(
                f"wire delete removed {out['deleted']} of {len(doomed)} docs"
            )

    return _drive_endpoints(spark, sf_dir, tag="delete", mutate=purge)


def aknn_http_doc_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (SURVEY §2 #163, r13): ES document-GET parity —
    GET /{index}/{id} returns the stored doc from its single pruned
    id_bucket directory (the exact read + per-id cache the serving path
    uses), 404 for an unknown id. The drive reuses the
    aknn_http_search_store server's built index (shared _SERVER_CACHE key — no second
    load), GETs every canonical query id plus one unknown id (asserted
    404, contributing no rows), and explodes the JSON vectors to
    (vec_id, dim, x) rows. Gated directly against the embeddings
    parquet: JSON round-trips doubles exactly, so a stored-vector byte
    flip anywhere in hash/append/compact fails the hash gate."""
    import urllib.error

    from .constants import N_QUERIES

    srv = _ensure_server(spark, sf_dir)
    rows = []
    for qid in range(N_QUERIES):
        res = _http_get(srv.port, f"/vectors/{qid}")
        assert res["found"] is True and res["_id"] == qid
        for i, x in enumerate(res["_source"][VECTOR_FIELD]):
            rows.append((qid, i, float(x)))
    try:
        _http_get(srv.port, "/vectors/987654321")
        raise RuntimeError("unknown id must 404")
    except urllib.error.HTTPError as e:
        if e.code != 404:
            raise
    return spark.createDataFrame(rows, "vec_id bigint, dim int, x double")


def aknn_http_bulk_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (SURVEY §2 #162, r12): ES refresh-semantics bulk
    loading over the wire — the answer to r11's honest 749 s / 200k wire
    ingest number. Every /_aknn_index batch is posted with
    "refresh": false (hash + ONE narrow staging append per request — no
    probe/purge/partitioned-write jobs), then a single POST /_aknn_refresh
    merges the staged batches into the pruned store layout through the
    batch builder's clustered writes, with last-occurrence-of-an-id-wins
    across batches (ES op order). Gated by the shared ann_search_lsh
    oracle like the other serving keys: searches over the bulk-loaded
    store must be bit-identical to the in-memory search path, so a doc
    lost (or duplicated) anywhere in stage → merge fails the hash gate."""
    return _drive_endpoints(spark, sf_dir, tag="bulk", bulk=True)


def _ensure_server(
    spark: SparkSession,
    sf_dir: str,
    tag: str | None = None,
    repost=None,
    mutate=None,
    bulk: bool = False,
) -> AknnHttpServer:
    """Build (or reuse from _SERVER_CACHE) the drive server for one
    tag — create + index + optional mutate + compact. Split out
    of _drive_endpoints (r13) so non-search drives (doc GET) share the
    same built store instead of paying a second load."""
    from . import io
    from .session import configure

    configure(spark)
    key = (spark.sparkContext.applicationId, sf_dir, tag)
    srv = _SERVER_CACHE.get(key)
    if srv is None:
        kind = f"aknn_http_{tag}" if tag else "aknn_http_store"
        srv = AknnHttpServer(spark, io.scratch_dir(kind, sf_dir)).start()
        try:
            emb = io.table(spark, sf_dir, "embeddings", widen=True)
            docs = [
                {ID_FIELD: int(r.vec_id), "_source": {VECTOR_FIELD: list(r.embedding)}}
                for r in emb.select("vec_id", "embedding").orderBy("vec_id").collect()
            ]
            need = 2 * LSH_TABLES * LSH_BITS
            _http_post(srv.port, "/_aknn_create", {"_id": "default", "docs": docs[:need]})
            batches = [docs[i : i + 5000] for i in range(0, len(docs), 5000)]
            if repost is not None:
                batches += [b for b in (repost(docs[i : i + 5000]) for i in range(0, len(docs), 5000)) if b]
            for batch in batches:
                payload = {"model": "default", "_index": "vectors", "docs": batch}
                if bulk:
                    payload["refresh"] = False
                _http_post(srv.port, "/_aknn_index", payload)
            if bulk:
                _http_post(srv.port, "/_aknn_refresh", {"_index": "vectors"})
            if mutate is not None:
                mutate(srv.port, docs)
            # r13: close the maintenance loop the r12 verdict flagged —
            # the batched appends (and any purge/replace churn) leave one
            # file per touched directory per request; a real operator
            # compacts after a load, so the drives do too. Served rows are
            # unchanged (same oracle gates them).
            _http_post(srv.port, "/_aknn_compact", {"_index": "vectors"})
        except BaseException:
            # ADVICE r11: never cache a partially-built server — a same-
            # session retry would skip indexing and gate against a partial
            # store with a confusing oracle mismatch instead of this error
            srv.stop()
            raise
        _SERVER_CACHE[key] = srv
    return srv


def _drive_endpoints(
    spark: SparkSession,
    sf_dir: str,
    tag: str | None = None,
    repost=None,
    mutate=None,
    bulk: bool = False,
) -> DataFrame:
    from .constants import N_QUERIES

    srv = _ensure_server(spark, sf_dir, tag, repost, mutate, bulk)
    # r13: the canonical queries go over the wire as ONE _aknn_msearch
    # request — Q queries share one ranked-collect job instead of paying
    # Q × fixed per-request driver cost (the r12 verdict's job-count
    # item); per-query payloads are identical to the per-id GET's (the
    # endpoint is unit-tested equal), so the gate is unchanged
    rows = []
    res = _http_post(
        srv.port,
        "/vectors/_aknn_msearch",
        {"ids": list(range(N_QUERIES)), "k1": ANN_K1, "k2": ANN_K2},
    )
    for qid, r in zip(range(N_QUERIES), res["responses"]):
        for h in r["hits"]["hits"]:
            rows.append((qid, h["_id"], h["n_match"], h["_score"]))
    return spark.createDataFrame(
        rows, "query_id bigint, neighbor_id bigint, n_match bigint, distance double"
    )
