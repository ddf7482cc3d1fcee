"""``erasure``: the paper's workload, permanent deletion of one key at a time.

The fixture is a merge-on-read ``orders`` table written by one append
range-partitioned on ``o_custkey`` into ``FILES`` data files, so each file
covers a narrow key range and manifest pruning narrows a single-key delete
to one file. The timed loop erases customers one at a time,
``t.delete("o_custkey = k")``, every key distinct. Each erasure is preceded
by a point lookup through the SQL facade, ``LakeEngine.sql``, of another
customer, one that is never erased: the read side of a table that keeps
collecting deletes. Lookup keys and erase keys are disjoint, so a lookup
never compiles or caches the predicate the next erase uses.

The loop works in batches of ``BATCH`` erasures. A batch erases one
customer from each of ``BATCH`` data files adjacent in key order, so no
erase reads through a pending delete, and the purge's sorted rewrite of
those files leaves key ranges that do not overlap the other files' (files
far apart would be merged into outputs whose ranges span the files between
them, and pruning would then keep those too). Each lookup reads a customer
of the file erased just before it, so it reads through one pending
position-delete file (the batch's first lookup reads a file with none). Which keys are drawn depends on the seed;
this shape does not. With keys drawn at random, the share of erases and
lookups that meet a pending delete, which costs about twice as much, would
change from seed to seed. After every batch the loop runs one purge cycle:

1. ``rewrite_position_delete_files``
2. ``rewrite_data_files`` over the files holding the batch's keys, sorted
   on ``o_custkey`` in band-sized files so the layout keeps pruning
3. ``expire_snapshots(now, retain_last=1)``
4. ``remove_orphan_files(now, enforce_safety=False)``

After each purge, outside the timed region, the erased keys must be absent
from the current read, from every retained snapshot and from every Parquet
file under the table location, read raw with pyarrow; every other row must
remain.

The end-to-end metrics are CPU seconds per erased customer: ``main_cpu_s``
for its lookup and its erase, ``cycle_cpu_s`` for all timed work (lookups,
erases and purges) divided by the customers erased. Time to permanent
erasure (a diagnostic) runs from the ``delete`` call of a key to the end of
the purge that follows it, on the clock of timed ops: the harness's own
work between ops (file listings, checks) is left out.
"""

from __future__ import annotations

import collections
import datetime as dt
import os
import random

import pyarrow.parquet as pq

from run import Failed, dir_files, pct

BATCH = 10
# the first batch of a process costs about twice the CPU of the next (JIT,
# first Spark jobs of each kind), so one whole batch runs before timing
WARM_BATCHES = 1
# the timed batches number round(--seconds / BATCH_S), at least MIN_BATCHES:
# a function of --seconds alone, so a slow host does the same work as a fast
# one (a batch of timed ops takes about BATCH_S s on the 4-core reference host)
MIN_BATCHES = 2
BATCH_S = 6.0
FILES = 16
SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
PROPS = {"write.delete.mode": "merge-on-read"}
TAIL = 75
LOOKUP = "SELECT o_orderkey, o_totalprice FROM bench.orders WHERE o_custkey = {k}"


class Workload:
    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(seed)

    def generate(self, data_dir: str) -> None:
        import datagen

        self.data_dir = data_dir
        datagen.write_tables(data_dir, self.seed, names=("orders",))
        orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
        self.rows_by_key = collections.Counter(orders.column("o_custkey").to_pylist())
        self.total_rows = orders.num_rows
        stream = sorted(self.rows_by_key)
        self.rng.shuffle(stream)
        self.erase_pool = stream[0::2]
        self.lookup_pool = stream[1::2]
        self.used: set[int] = set()

    def build(self, ctx, warehouse: str) -> None:
        from demo_iceberg_permanent_delete_spark.lake import Catalog, LakeEngine
        from demo_iceberg_permanent_delete_spark.sources.tables import load_table

        src = load_table(ctx.spark, self.data_dir, "orders")
        cat = Catalog(ctx.spark, warehouse)
        cat.create_namespace("bench")
        t = cat.create_table("bench.orders", SCHEMA, properties=PROPS)
        t.insert(src.repartitionByRange(FILES, "o_custkey").sortWithinPartitions("o_custkey"))
        self.table = t
        self.engine = LakeEngine(ctx.spark, warehouse)
        files = t.metadata.current_snapshot().data_files()
        self.file_bytes = sum(e.file_size_in_bytes for e in files) // len(files)

    def warm(self, ctx) -> None:
        self.erased: set[int] = set()
        self.permanent: list[float] = []
        # path → size of every file seen under the table in the timed region
        self.created: dict[str, int] | None = None
        for _ in range(WARM_BATCHES):
            self._batch(ctx)
        self.permanent.clear()

    def loop(self, ctx, seconds: float) -> None:
        from demo_iceberg_permanent_delete_spark.lake.pruning import _compiled

        self.before = dir_files(self.table.location)
        self.created = dict(self.before)
        cache0 = _compiled.cache_info()
        for _ in range(max(MIN_BATCHES, round(seconds / BATCH_S))):
            self._batch(ctx)
        cache1 = _compiled.cache_info()
        # lake.pruning's compiled-predicate LRU over the timed ops
        self.cache = {
            "hits": cache1.hits - cache0.hits,
            "misses": cache1.misses - cache0.misses,
        }

    def _batch(self, ctx) -> None:
        t = self.table
        files = sorted(
            t.metadata.current_snapshot().data_files(), key=lambda e: e.min_values["o_custkey"]
        )
        first = self.rng.randrange(len(files) - BATCH + 1)
        files = files[first : first + BATCH]
        self.rng.shuffle(files)
        batch = [self._pick(self.erase_pool, f) for f in files]
        # lookup i reads the file of erase i - 1; the first, that of the last
        lookups = [self._pick(self.lookup_pool, files[i - 1]) for i in range(BATCH)]
        start = {}
        for k, j in zip(batch, lookups):
            self._lookup(ctx, j)
            start[k] = ctx.timed_s
            ctx.op("erase", lambda k=k: t.delete(f"o_custkey = {k}"))
            self._note_files()

        def purge():
            where = f"o_custkey IN ({', '.join(map(str, batch))})"
            t.rewrite_position_delete_files()
            t.rewrite_data_files(
                where=where, sort_order=["o_custkey"], target_file_size_bytes=self.file_bytes
            )
            now = dt.datetime.now()
            t.expire_snapshots(now, retain_last=1)
            t.remove_orphan_files(now, enforce_safety=False)

        ctx.op("purge", purge)
        done = ctx.timed_s
        self._note_files()
        for k in batch:
            self.permanent.append(done - start[k])
        self.erased.update(batch)
        ctx.check("erased_keys_gone", self._check_gone)

    def _pick(self, pool: list[int], entry) -> int:
        """The first unused key of ``pool`` strictly inside the data file's
        ``o_custkey`` bounds (a boundary key may also sit in the next file)."""
        lo, hi = entry.min_values["o_custkey"], entry.max_values["o_custkey"]
        k = next(k for k in pool if lo < k < hi and k not in self.used)
        self.used.add(k)
        return k

    def _lookup(self, ctx, j: int) -> None:
        rows = ctx.op("lookup", lambda: self.engine.sql(LOOKUP.format(k=j)).collect())
        ctx.check("lookup_rows", lambda: self._check_lookup(j, rows))

    def _check_lookup(self, k: int, rows) -> None:
        if rows is None or len(rows) != self.rows_by_key[k]:
            raise Failed(f"lookup of customer {k} returned {rows and len(rows)} rows")

    def _note_files(self) -> None:
        if self.created is not None:
            for p, size in dir_files(self.table.location).items():
                self.created.setdefault(p, size)

    def _check_gone(self) -> None:
        t = self.table
        erased = self.erased
        want = self.total_rows - sum(self.rows_by_key[k] for k in erased)
        current = t.metadata.current_snapshot_id
        snapshots = [r.snapshot_id for r in t.meta("snapshots").select("snapshot_id").collect()]
        for sid in [None] + [s for s in snapshots if s != current]:
            keys = t.read(snapshot_id=sid).select("o_custkey").toArrow().column(0).to_pylist()
            where = "the current read" if sid is None else f"snapshot {sid}"
            if sid is None and len(keys) != want:
                raise Failed(f"{where} has {len(keys)} rows, want {want}")
            if not erased.isdisjoint(keys):
                raise Failed(f"erased key visible in {where}")
        # every data file under the table location, read raw; delete files
        # have no o_custkey column
        for path in dir_files(t.location):
            if path.endswith(".parquet"):
                f = pq.ParquetFile(path)
                if "o_custkey" in f.schema_arrow.names:
                    if not erased.isdisjoint(f.read(columns=["o_custkey"]).column(0).to_pylist()):
                        raise Failed(f"erased key still present in {path}")

    def final_checks(self, ctx) -> None:
        pass

    def metrics(self, ctx) -> dict[str, float]:
        erase = ctx.lat.get("erase", [])
        purge = ctx.lat.get("purge", [])
        lookup = ctx.lat.get("lookup", [])
        cpu = {kind: sum(v) / len(v) for kind, v in ctx.cpu.items()}
        live = self.table.read().toArrow()
        plain = os.path.join(ctx.work, "plain.parquet")
        pq.write_table(live, plain)
        base = os.path.getsize(plain)
        end = sum(dir_files(self.table.location).values())
        new = sum(s for p, s in self.created.items() if p not in self.before)
        return {
            # one lookup and one erase: the ops each erasure request makes
            # before its purge
            "main_cpu_s": cpu["lookup"] + cpu["erase"],
            # every timed op serves the erasures: BATCH lookups, BATCH
            # erases and one purge per BATCH customers
            "cycle_cpu_s": ctx.timed_cpu_s / len(erase),
            "erase_cpu_s": cpu["erase"],
            "lookup_cpu_s": cpu["lookup"],
            "purge_cpu_s": cpu["purge"],
            "ops_per_s": (len(erase) + len(purge) + len(lookup)) / ctx.timed_s,
            "lookup_p50_s": pct(lookup, 50),
            "lookup_tail_s": pct(lookup, TAIL),
            "erase_p50_s": pct(erase, 50),
            "erase_tail_s": pct(erase, TAIL),
            "purge_p50_s": pct(purge, 50),
            "erase_permanent_p50_s": pct(self.permanent, 50),
            "storage_amp": end / base,
            "write_amp": new / base,
            "predicate_cache_hits": self.cache["hits"],
            "predicate_cache_misses": self.cache["misses"],
        }

    def layer_metrics(self, ctx) -> dict[str, float]:
        meta = self.table.metadata
        return {
            "lake.metadata.chain_length": meta.chain_length(meta.current_snapshot_id),
            "lake.metadata.bytes": sum(dir_files(meta.metadata_dir).values()),
            "lake.pruning.predicate_cache_hits": self.cache["hits"],
            "lake.pruning.predicate_cache_misses": self.cache["misses"],
        }
