"""R4/R5 seen-set membership — exact anti-join + partitioned Bloom
pre-filter, with a cuckoo-filter variant for deletion support
(BASELINE.json:6,14; SURVEY.md §2.3 R4, §2.8).

The reference keeps an exact in-memory Python set (crawler.py:81-83,
160-163). At 10^10 URLs an exact set is a table, membership is an
anti-join, and the Bloom sidecar exists to keep MOST candidate rows
out of that shuffle:

  candidates ──bloom──┬── definitely-new (bit miss) ──────────┐
                      └── maybe-seen ── exact anti-join seen ─┴─ new

While the seen table is small enough for the planner to broadcast,
the anti-join has no shuffle to save, so the crawl (plans/crawl.py)
runs the plain anti-join and builds no filter. It builds one from the
seen table once seen's parquet file bytes exceed
spark.sql.autoBroadcastJoinThreshold (an approximation of the
planner's choice), and keeps it from then on.

Bloom bit positions are computed JVM-side (`xxhash64(url_norm, seed_i)
mod m` — whole-stage codegen); Python only does vectorised numpy bit
lookups per Arrow batch. False positives cost only a redundant exact
check; false negatives are impossible, so correctness never depends on
the filter (the exact anti-join on (url_hash, url_norm) is the
backstop, and the norm equality guards hash collisions at 10^10 rows).

Partitioning: bitsets are per host_bucket (pmod(xxhash64(host), B)) so
at cluster scale each executor loads only its slice from the sidecar;
in-sandbox they live in one broadcast dict.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simplecrawler_spark.plans.tables import SidecarIO

HOST_BUCKETS = 16


def _np_bytes(arr: np.ndarray) -> bytes:
    """npy-serialise an array for SidecarIO object storage."""
    import io
    buf = io.BytesIO()
    np.save(buf, arr)
    return buf.getvalue()


def _np_from_bytes(data: bytes) -> np.ndarray:
    import io
    return np.load(io.BytesIO(data))


def _as_sidecar(dir_or_io) -> SidecarIO:
    """Accept a plain directory path (wrapped in the local-FS
    SidecarIO) or a ready SidecarIO (e.g. SnapshotStore.sidecar(),
    or a shared-storage subclass)."""
    return dir_or_io if isinstance(dir_or_io, SidecarIO) \
        else SidecarIO(dir_or_io)


def host_bucket_expr(host, n_buckets: int = HOST_BUCKETS):
    return F.pmod(F.xxhash64(host), F.lit(n_buckets)).cast("int")


# persisted-bitset format marker: bit positions are Kirsch–
# Mitzenmacher double hashes of (xxhash64(url, seed),
# xxhash64(url, seed+1)|1). Files written under a different scheme
# must not be loaded (false negatives) — BloomSeen.load refuses them.
POSITION_SCHEME = "xxh64-dh2"


def _double_hash_positions(h1: np.ndarray, h2: np.ndarray,
                           k: int, m: int) -> np.ndarray:
    """(n, k) int64 Bloom position matrix via Kirsch–Mitzenmacher
    double hashing. Module-level so UDF closures capture only the
    two ints, never a filter instance (whose bitsets would otherwise
    ship inside every task closure)."""
    i = np.arange(k, dtype=np.int64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % m


class BloomSeen:
    """Partitioned Bloom filter over canonical URLs.

    Sized once from `expected_items` and `fpp`; saturation beyond the
    estimate only raises the false-positive rate (never breaks
    correctness — see module docstring).
    """

    def __init__(self, expected_items: int = 1 << 20, fpp: float = 1e-3,
                 n_buckets: int = HOST_BUCKETS, seed: int = 7):
        per_bucket = max(1024, expected_items // n_buckets)
        m = int(-per_bucket * math.log(fpp) / (math.log(2) ** 2))
        self.m = 1 << max(13, m.bit_length())       # power of two bits
        self.k = max(1, round(-math.log2(fpp)))
        self.n_buckets = n_buckets
        self.seed = seed
        self.capacity = expected_items
        self.fpp = fpp
        self.bits = {b: np.zeros(self.m // 8, dtype=np.uint8)
                     for b in range(n_buckets)}
        self.added = 0
        self._bc = None          # cached Spark broadcast of the bitsets
        self._bc_version = -1
        self._version = 0        # bumped on every mutation
        # when set (save_buckets), membership runs co-partitioned: each
        # task loads ONLY its bucket's bitset object instead of
        # receiving every bucket via broadcast (the 10^10-scale path).
        # All byte I/O goes through SidecarIO, so shared storage is a
        # config change.
        self.sidecar: SidecarIO | None = None

    @property
    def sidecar_dir(self) -> str | None:
        """Compatibility surface: the sidecar root (or None). Assigning
        a path arms the sidecar through the local-FS SidecarIO."""
        return self.sidecar.root if self.sidecar is not None else None

    @sidecar_dir.setter
    def sidecar_dir(self, value) -> None:
        self.sidecar = None if value is None else _as_sidecar(value)

    def saturated(self) -> bool:
        """True once the filter holds ~4x its design capacity — the
        false-positive rate has degraded to the point where most
        candidates fall through to the exact anti-join anyway, so the
        owner should rebuild bigger from the seen table (amortised
        doubling keeps total rebuild cost O(1) per URL)."""
        return self.added > 4 * self.capacity

    # -- position expressions (JVM-side) -----------------------------------

    def hash_exprs(self, url_norm):
        """Two JVM-side xxhash64 columns (h1, h2·odd) per URL; the k
        bit positions expand executor-side in numpy via double hashing
        (Kirsch–Mitzenmacher: g_i = h1 + i·h2 mod m — preserves the
        Bloom fpp bound). Shipping (h1, h2) instead of a k-long
        position array cuts the Arrow/shuffle traffic of every
        membership and build pass ~k/2× (k≈10 at fpp 1e-3)."""
        h1 = F.pmod(F.xxhash64(url_norm, F.lit(self.seed)), F.lit(self.m))
        # force h2 odd: m is a power of two, so an odd stride visits
        # distinct positions for all i < k
        h2 = F.pmod(F.xxhash64(url_norm, F.lit(self.seed + 1)),
                    F.lit(self.m)).bitwiseOR(F.lit(1))
        return h1, h2

    def _expand_positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """(n, k) int64 position matrix from the two hash columns."""
        return _double_hash_positions(h1, h2, self.k, self.m)

    # -- updates ------------------------------------------------------------

    def add_df(self, df: DataFrame, url_col: str = "url_norm",
               host_col: str = "host",
               row_count: int | None = None) -> None:
        """OR the bits for every row of ``df`` into the bitsets.
        A precomputed ``host_bucket`` column is used when present
        (e.g. rebuilding straight from the seen table).

        Distributed build: positions are computed in the JVM, the
        per-bucket bitsets are OR-ed executor-side inside an
        applyInPandas over host_bucket groups, and only the (tiny)
        partial bitsets — n_buckets × m/8 bytes, NOT one row per URL —
        come back to the driver. Per-URL driver work would serialise
        the whole crawl at 10^10 scale.

        Small batches (``row_count`` hint below ~64k) skip the shuffle:
        positions come straight to the driver in one Arrow pass.
        """
        bucket = (F.col("host_bucket") if "host_bucket" in df.columns
                  else host_bucket_expr(F.col(host_col), self.n_buckets))
        h1e, h2e = self.hash_exprs(F.col(url_col))
        if row_count is not None and row_count < 65536:
            pdf = df.select(
                bucket.alias("b"),
                h1e.alias("h1"), h2e.alias("h2"),
            ).toPandas()
            if pdf.empty:
                return
            for b, grp in pdf.groupby("b"):
                pos = self._expand_positions(
                    grp["h1"].to_numpy(), grp["h2"].to_numpy()).ravel()
                bits = self.bits[int(b)]
                np.bitwise_or.at(bits, pos >> 3,
                                 np.left_shift(1, (pos & 7)).astype(np.uint8))
            self.added += len(pdf)
            self._version += 1
            return
        m, k = self.m, self.k

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            pos = _double_hash_positions(
                pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), k, m).ravel()
            bits = np.zeros(m // 8, dtype=np.uint8)
            np.bitwise_or.at(bits, pos >> 3,
                             np.left_shift(1, (pos & 7)).astype(np.uint8))
            return pd.DataFrame({"b": [int(pdf["b"].iloc[0])],
                                 "bits": [bits.tobytes()],
                                 "n": [len(pdf)]})

        rows = (
            df.select(
                bucket.alias("b"),
                h1e.alias("h1"), h2e.alias("h2"))
            .groupBy("b")
            .applyInPandas(build, "b int, bits binary, n long")
            .collect()
        )
        for row in rows:
            np.bitwise_or(self.bits[int(row.b)],
                          np.frombuffer(row.bits, dtype=np.uint8),
                          out=self.bits[int(row.b)])
            self.added += row.n
        if rows:
            self._version += 1

    # -- membership ---------------------------------------------------------

    def maybe_seen_col(self, df: DataFrame, url_col: str = "url_norm",
                       host_col: str = "host"):
        """Boolean column: True → possibly seen (needs exact check);
        False → DEFINITELY new.

        Bitsets ride to executors as a real Spark broadcast (one
        transfer per executor), not inside the UDF closure (which
        would be re-shipped per task). The broadcast is cached on the
        instance and re-shipped ONLY when the bits have changed since
        the last call; the previous round's broadcast is destroyed so
        long crawls don't accumulate stale multi-MB..GB copies on the
        driver and executors."""
        if self._bc is None or self._bc_version != self._version:
            if self._bc is not None:
                self._bc.destroy()
            self._bc = df.sparkSession.sparkContext.broadcast(
                {b: a.tobytes() for b, a in self.bits.items()})
            self._bc_version = self._version
        bc = self._bc

        m, k = self.m, self.k

        @F.pandas_udf(T.BooleanType())
        def _maybe(bucket: pd.Series, h1: pd.Series,
                   h2: pd.Series) -> pd.Series:
            if len(bucket) == 0:
                return pd.Series([], dtype=bool)
            bits_by_bucket = {
                b: np.frombuffer(raw, dtype=np.uint8)
                for b, raw in bc.value.items()}
            pos = _double_hash_positions(
                h1.to_numpy(), h2.to_numpy(), k, m)  # (n, k)
            bkt = bucket.to_numpy()
            out = np.ones(len(bkt), dtype=bool)
            for b in np.unique(bkt):
                bits = bits_by_bucket[int(b)]
                rows = bkt == b
                p = pos[rows]
                hit = (bits[p >> 3] & (1 << (p & 7)).astype(np.uint8)) != 0
                out[rows] = hit.all(axis=1)
            return pd.Series(out)

        h1e, h2e = self.hash_exprs(F.col(url_col))
        return _maybe(
            host_bucket_expr(F.col(host_col), self.n_buckets), h1e, h2e)

    def flag_maybe_seen(self, df: DataFrame, url_col: str = "url_norm",
                        host_col: str = "host") -> DataFrame:
        """``df`` plus a ``_maybe`` boolean column, evaluated
        CO-PARTITIONED against the per-bucket bitset sidecar
        (requires a prior save_buckets()).

        This is the membership path that survives 10^10 URLs: the
        broadcast variant ships EVERY bucket's bitset to EVERY executor
        (~1.4 GB per 10^9 URLs, re-shipped as the filter grows), while
        here the candidates are hash-partitioned on host_bucket and
        each task reads only its own bucket slice from shared storage
        (object store at cluster scale). The price is one extra shuffle
        of the candidate rows — cheap against GB-scale bitset traffic,
        and the rows were headed into the exact anti-join shuffle
        anyway."""
        if self.sidecar is None:
            raise RuntimeError("flag_maybe_seen needs save_buckets() first")
        io_obj = self.sidecar  # picklable (root string only)
        out_schema = T.StructType(
            df.schema.fields + [T.StructField("_maybe", T.BooleanType())])
        pass_cols = df.columns
        h1e, h2e = self.hash_exprs(F.col(url_col))
        pre = df.withColumn(
            "_b", host_bucket_expr(F.col(host_col), self.n_buckets)
        ).withColumn("_h1", h1e).withColumn("_h2", h2e)
        part = pre.repartition(self.n_buckets, F.col("_b"))
        m, k = self.m, self.k

        def gen(batches):
            cache: dict[int, np.ndarray] = {}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                bkt = pdf["_b"].to_numpy()
                pos = _double_hash_positions(
                    pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), k, m)
                out = np.ones(len(bkt), dtype=bool)
                for b in np.unique(bkt):
                    bits = cache.get(int(b))
                    if bits is None:
                        bits = _np_from_bytes(
                            io_obj.read_bytes(f"bucket-{int(b)}.npy"))
                        cache[int(b)] = bits
                    rows = bkt == b
                    p = pos[rows]
                    hit = (bits[p >> 3]
                           & (1 << (p & 7)).astype(np.uint8)) != 0
                    out[rows] = hit.all(axis=1)
                res = pdf[pass_cols].copy()
                res["_maybe"] = out
                yield res

        return part.mapInPandas(gen, out_schema)

    # -- persistence (checkpoint sidecar) ------------------------------------

    def save_buckets(self, dir_or_io) -> None:
        """Write one bitset object per host_bucket (the co-partitioned
        membership sidecar) and arm flag_maybe_seen. Takes a directory
        path (local SidecarIO) or any SidecarIO — at cluster scale
        these are one object per bucket in shared storage; a task
        fetches only its slice."""
        io_obj = _as_sidecar(dir_or_io)
        for b, a in self.bits.items():
            io_obj.write_bytes(f"bucket-{b}.npy", _np_bytes(a))
        self.sidecar = io_obj

    def save(self, path: str) -> None:
        # uncompressed on purpose: this runs once per round on the
        # driver, and compressing near-random bitset bytes costs ~1s+
        # of serial time per round for little size gain
        os.makedirs(os.path.dirname(path), exist_ok=True)
        np.savez(
            path, m=self.m, k=self.k, seed=self.seed, added=self.added,
            capacity=self.capacity, fpp=self.fpp,
            scheme=POSITION_SCHEME,
            **{f"b{b}": a for b, a in self.bits.items()})

    @classmethod
    def load(cls, path: str) -> "BloomSeen":
        z = np.load(path)
        scheme = str(z["scheme"]) if "scheme" in z else "per-k-seed"
        if scheme != POSITION_SCHEME:
            # A bitset built under a different position scheme would
            # silently FALSE-NEGATIVE (→ duplicate crawls). Refuse —
            # the owner rebuilds from the seen table, exactly the
            # saturation path.
            raise ValueError(
                f"bloom file {path} uses position scheme {scheme!r}; "
                f"this build uses {POSITION_SCHEME!r} — rebuild from "
                "the seen table instead of loading")
        obj = cls.__new__(cls)
        obj.m = int(z["m"]); obj.k = int(z["k"]); obj.seed = int(z["seed"])
        obj.added = int(z["added"])
        obj.capacity = int(z["capacity"]) if "capacity" in z else obj.added + 1
        obj.fpp = float(z["fpp"]) if "fpp" in z else 1e-3
        obj._bc = None
        obj._bc_version = -1
        obj._version = 0
        obj.sidecar_dir = None
        obj.bits = {}
        b = 0
        while f"b{b}" in z:
            obj.bits[b] = z[f"b{b}"]
            b += 1
        obj.n_buckets = b
        return obj


def _cuckoo_h64(data: bytes, seed: int) -> int:
    # deterministic across processes (unlike builtin hash())
    import hashlib
    d = hashlib.blake2b(data, digest_size=8,
                        salt=seed.to_bytes(8, "little")).digest()
    return int.from_bytes(d, "little")


def _cuckoo_key_parts(key: str, n: int, n_shards: int,
                      seed: int) -> tuple[int, int, int, int]:
    """(shard, fp, i1, i2) for ``key``. Shard comes from the high hash
    bits, bucket i1 from the middle — independent streams, so the
    within-shard distribution stays uniform."""
    h = _cuckoo_h64(key.encode("utf-8", "surrogatepass"), seed)
    fp = (h & 0xFFFF) or 1
    i1 = (h >> 16) % n
    i2 = (i1 ^ _cuckoo_h64(fp.to_bytes(2, "little"), seed)) % n
    shard = (h >> 48) % n_shards
    return shard, fp, i1, i2


def _cuckoo_insert(table: np.ndarray, key: str, n_shards: int, seed: int,
                   max_kicks: int) -> bool:
    """Insert ``key`` into its shard's ``table`` (mutates). Pure
    function of (table, key) — identical result driver- or
    executor-side."""
    import random
    n, slots = table.shape
    _, fp, i1, i2 = _cuckoo_key_parts(key, n, n_shards, seed)
    for i in (i1, i2):
        row = table[i]
        empty = np.flatnonzero(row == 0)
        if empty.size:
            row[empty[0]] = fp
            return True
    rng = random.Random(_cuckoo_h64(key.encode("utf-8", "surrogatepass"),
                                    seed + 1))
    i = rng.choice((i1, i2))
    for _ in range(max_kicks):
        j = rng.randrange(slots)
        fp, table[i][j] = table[i][j], fp
        i = (i ^ _cuckoo_h64(int(fp).to_bytes(2, "little"), seed)) % n
        row = table[i]
        empty = np.flatnonzero(row == 0)
        if empty.size:
            row[empty[0]] = fp
            return True
    return False  # table full


def _cuckoo_delete(table: np.ndarray, key: str, n_shards: int,
                   seed: int) -> bool:
    n, _ = table.shape
    _, fp, i1, i2 = _cuckoo_key_parts(key, n, n_shards, seed)
    for i in (i1, i2):
        idx = np.flatnonzero(table[i] == fp)
        if idx.size:
            table[i][idx[0]] = 0
            return True
    return False


class CuckooSeen:
    """Sharded cuckoo filter (fingerprint + two candidate buckets) for
    the deletion path (recrawl/expiry) the Bloom can't serve
    (BASELINE.json:14 "cuckoo-filter fallback for deletions").

    The key space is split into ``n_shards`` INDEPENDENT sub-filters
    (shard = high bits of the key hash), so bulk add/delete distributes:
    rows are grouped by shard and each shard's table is updated
    executor-side inside one applyInPandas task. Cuckoo kick-chains
    never cross shards, so the merged result is exactly a sequential
    per-shard run.

    Two bulk paths:
      * broadcast (default, small filters): tables ride to executors as
        one broadcast, updated tables (n·slots·2 bytes each — never one
        row per URL) return to the driver.
      * sidecar (``save_shards()``, the 10^10-URL path): shard tables
        live as ONE FILE PER SHARD in shared storage; each task loads
        only its shard, writes the update back under a fresh versioned
        name, and only (shard, file_name, count) strings return to the
        driver, which repoints a manifest. No table bytes ever cross
        the driver or a broadcast — at 10^10 keys the tables total
        ~20 GB, which the broadcast path would ship to every executor
        and round-trip through the driver per expiry pass.
    """

    def __init__(self, capacity: int = 1 << 16, slots: int = 4,
                 max_kicks: int = 500, seed: int = 11,
                 n_shards: int = HOST_BUCKETS):
        self.n = 1 << max(4, (capacity // (slots * n_shards)).bit_length())
        self.slots = slots
        self.max_kicks = max_kicks
        self.seed = seed
        self.n_shards = n_shards
        # driver-side tables: authoritative in broadcast mode, a lazy
        # per-shard cache of the sidecar files in sidecar mode
        self.tables = {s: np.zeros((self.n, slots), dtype=np.uint16)
                       for s in range(n_shards)}  # 0 = empty slot
        self.sidecar: SidecarIO | None = None
        self._manifest: dict[int, str] = {}

    @property
    def sidecar_dir(self) -> str | None:
        return self.sidecar.root if self.sidecar is not None else None

    @sidecar_dir.setter
    def sidecar_dir(self, value) -> None:
        self.sidecar = None if value is None else _as_sidecar(value)

    # -- sidecar persistence (one object per shard + manifest) -----------

    def _write_shard(self, s: int, table: np.ndarray) -> str:
        import uuid
        name = f"shard-{s}-{uuid.uuid4().hex[:8]}.npy"
        self.sidecar.write_bytes(name, _np_bytes(table))
        old = self._manifest.get(s)
        self._manifest[s] = name
        if old and old != name:
            self.sidecar.remove(old)
        return name

    def _save_manifest(self) -> None:
        import json
        payload = json.dumps(
            {"n": self.n, "slots": self.slots,
             "max_kicks": self.max_kicks, "seed": self.seed,
             "n_shards": self.n_shards,
             "shards": {str(s): f
                        for s, f in self._manifest.items()}}).encode()
        self.sidecar.write_bytes("manifest.json", payload)

    def save_shards(self, dir_or_io) -> None:
        """Write every shard table as its own sidecar object and arm
        the no-broadcast bulk path. Takes a directory path (local
        SidecarIO) or any SidecarIO; at cluster scale these are one
        object per shard in shared storage and a bulk-op task fetches
        only its shard."""
        # hydrate every lazy shard from the CURRENT sidecar before
        # repointing, or a re-export of a load_shards() filter would
        # read the not-yet-copied shard files from the destination
        tables = {s: self._shard_table(s) for s in range(self.n_shards)}
        new_io = _as_sidecar(dir_or_io)
        if self.sidecar is None or new_io.root != self.sidecar.root:
            self._manifest = {}  # old names belong to the old sidecar
        self.sidecar = new_io
        for s in range(self.n_shards):
            self._write_shard(s, tables[s])
        self._save_manifest()

    @classmethod
    def load_shards(cls, dir_or_io) -> "CuckooSeen":
        """Reopen a sidecar-backed filter from its manifest (resume
        path). Shard tables load lazily, per shard, on first use."""
        import json
        io_obj = _as_sidecar(dir_or_io)
        m = json.loads(io_obj.read_bytes("manifest.json"))
        obj = cls.__new__(cls)
        obj.n = int(m["n"]); obj.slots = int(m["slots"])
        obj.max_kicks = int(m["max_kicks"]); obj.seed = int(m["seed"])
        obj.n_shards = int(m["n_shards"])
        obj.tables = {}
        obj.sidecar = io_obj
        obj._manifest = {int(s): f for s, f in m["shards"].items()}
        return obj

    def _shard_table(self, s: int) -> np.ndarray:
        """Driver-side access to one shard — lazy-loaded from the
        sidecar in sidecar mode (single-key ops touch one shard
        object, never the whole filter)."""
        t = self.tables.get(s)
        if t is None:
            t = _np_from_bytes(self.sidecar.read_bytes(self._manifest[s]))
            self.tables[s] = t
        return t

    # -- single-key surface ----------------------------------------------

    def _shard(self, key: str) -> int:
        return _cuckoo_key_parts(key, self.n, self.n_shards, self.seed)[0]

    def add(self, key: str) -> bool:
        s = self._shard(key)
        ok = _cuckoo_insert(self._shard_table(s), key,
                            self.n_shards, self.seed, self.max_kicks)
        if self.sidecar_dir is not None:
            self._write_shard(s, self.tables[s])
            self._save_manifest()
        return ok

    def __contains__(self, key: str) -> bool:
        table = self._shard_table(self._shard(key))
        _, fp, i1, i2 = _cuckoo_key_parts(key, self.n, self.n_shards,
                                          self.seed)
        return bool((table[i1] == fp).any() or (table[i2] == fp).any())

    def delete(self, key: str) -> bool:
        s = self._shard(key)
        ok = _cuckoo_delete(self._shard_table(s), key,
                            self.n_shards, self.seed)
        if self.sidecar_dir is not None:
            self._write_shard(s, self.tables[s])
            self._save_manifest()
        return ok

    # -- DataFrame surface (expiry/recrawl sidecar) ----------------------

    def _shard_of_udf(self):
        n, n_shards, seed = self.n, self.n_shards, self.seed

        @F.pandas_udf(T.IntegerType())
        def shard_of(keys: pd.Series) -> pd.Series:
            return pd.Series([
                _cuckoo_key_parts(k, n, n_shards, seed)[0] for k in keys],
                dtype="int32")

        return shard_of

    def _apply_df(self, df: DataFrame, url_col: str, op: str) -> int:
        """Distributed bulk add/delete — NO per-row driver work
        (round-1 verdict: the old collect() loop serialised expiry at
        10^10 seen URLs). Routes to the sidecar path when armed
        (round-2 verdict: the broadcast path re-ships and round-trips
        every shard's bytes per bulk op)."""
        if self.sidecar_dir is not None:
            return self._apply_df_sidecar(df, url_col, op)
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(
            {s: t.tobytes() for s, t in self.tables.items()})
        n, slots = self.n, self.slots
        n_shards, seed, kicks = self.n_shards, self.seed, self.max_kicks

        def update(pdf: pd.DataFrame) -> pd.DataFrame:
            s = int(pdf["_shard"].iloc[0])
            table = np.frombuffer(bc.value[s], dtype=np.uint16).reshape(
                n, slots).copy()
            acc = 0
            if op == "add":
                for k in pdf["_k"]:
                    if _cuckoo_insert(table, k, n_shards, seed, kicks):
                        acc += 1
            else:
                for k in pdf["_k"]:
                    if _cuckoo_delete(table, k, n_shards, seed):
                        acc += 1
            return pd.DataFrame({"s": [s], "tbl": [table.tobytes()],
                                 "acc": [acc]})

        rows = (df.select(F.col(url_col).alias("_k"))
                .withColumn("_shard", self._shard_of_udf()(F.col("_k")))
                .groupBy("_shard")
                .applyInPandas(update, "s int, tbl binary, acc long")
                .collect())
        total = 0
        for row in rows:
            self.tables[int(row.s)] = np.frombuffer(
                row.tbl, dtype=np.uint16).reshape(n, slots).copy()
            total += row.acc
        bc.destroy()
        return total

    def _apply_df_sidecar(self, df: DataFrame, url_col: str,
                          op: str) -> int:
        """Scale path: each task loads ONLY its shard's file from the
        sidecar, applies its group's ops, and writes the update back
        under a fresh versioned name; (shard, file_name, count) strings
        — never table bytes — return to the driver, which repoints the
        manifest and drops the superseded files. A lost task attempt
        leaves an orphan file the manifest never references, so retries
        are safe; exactly one task exists per shard per bulk op
        (groupBy shard), so there are no write conflicts."""
        io_obj = self.sidecar  # picklable (root string only)
        manifest = dict(self._manifest)
        n_shards, seed, kicks = self.n_shards, self.seed, self.max_kicks

        def update(pdf: pd.DataFrame) -> pd.DataFrame:
            import uuid
            s = int(pdf["_shard"].iloc[0])
            table = _np_from_bytes(io_obj.read_bytes(manifest[s]))
            acc = 0
            if op == "add":
                for k in pdf["_k"]:
                    if _cuckoo_insert(table, k, n_shards, seed, kicks):
                        acc += 1
            else:
                for k in pdf["_k"]:
                    if _cuckoo_delete(table, k, n_shards, seed):
                        acc += 1
            name = f"shard-{s}-{uuid.uuid4().hex[:8]}.npy"
            io_obj.write_bytes(name, _np_bytes(table))
            return pd.DataFrame({"s": [s], "name": [name], "acc": [acc]})

        rows = (df.select(F.col(url_col).alias("_k"))
                .withColumn("_shard", self._shard_of_udf()(F.col("_k")))
                .groupBy("_shard")
                .applyInPandas(update, "s int, name string, acc long")
                .collect())
        total = 0
        for row in rows:
            s = int(row.s)
            old = self._manifest.get(s)
            self._manifest[s] = row.name
            self.tables.pop(s, None)  # invalidate the driver's lazy cache
            if old and old != row.name:
                io_obj.remove(old)
            total += row.acc
        self._save_manifest()
        return total

    def add_df(self, df: DataFrame, url_col: str = "url_norm") -> int:
        """Insert every url of ``df``; returns how many were accepted
        (False returns mean a shard is full — callers should size
        capacity ≥ expected keys)."""
        return self._apply_df(df, url_col, "add")

    def delete_df(self, df: DataFrame, url_col: str = "url_norm") -> int:
        """Delete every url of ``df``; returns the number removed.
        This is the operation the Bloom sidecar cannot do — after an
        expiry pass the cuckoo stays exact-as-filter without a full
        rebuild (BASELINE.json:14)."""
        return self._apply_df(df, url_col, "delete")


def anti_join_seen(candidates: DataFrame, seen: DataFrame,
                   bloom: BloomSeen | None = None) -> DataFrame:
    """R4: rows of ``candidates`` whose url is NOT in ``seen``.

    With a Bloom filter, definitely-new rows (bit miss) bypass the
    anti-join shuffle entirely; only maybe-seen rows join against the
    seen table. Exact keys: (url_hash, url_norm) — norm equality guards
    hash collisions.
    """
    seen_keys = seen.select("url_hash", "url_norm")
    if bloom is None or bloom.added == 0:
        return candidates.join(seen_keys, ["url_hash", "url_norm"],
                               "left_anti")
    if bloom.sidecar_dir is not None:
        # co-partitioned sidecar membership (scale path) — each task
        # loads only its bucket's bitset from shared storage
        flagged = bloom.flag_maybe_seen(candidates)
    else:
        flagged = candidates.withColumn("_maybe",
                                        bloom.maybe_seen_col(candidates))
    definitely_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
    maybe = flagged.filter(F.col("_maybe")).drop("_maybe")
    # The exact check shuffles both sides on the join key; the bloom
    # split keeps the definitely-new majority out of that shuffle, and
    # AQE converts to a broadcast join when either side is small at
    # runtime. (A semi-join rewrite that scans-but-never-shuffles seen
    # was tried and LOSES whenever rounds rediscover many URLs — the
    # maybe side exceeds broadcast size and the plan degrades to three
    # shuffles instead of one. At 10^10 scale the right fix is
    # host-bucketed storage co-partitioned with the candidates, not a
    # join rewrite.)
    checked = maybe.join(seen_keys, ["url_hash", "url_norm"], "left_anti")
    return definitely_new.unionByName(checked)
