"""``lakehouse_maintenance``: the snapshot-table write and read paths, with
no CSV or JDBC.

Each iteration starts from a fresh table root, so every iteration does
identical work.
Phase 1 (write): ``snapshot_commit`` of the base table (sort order and
Bloom filter on ``id``), a ``snapshot_merge`` upsert whose keys are
clustered, ``snapshot_delete_mor``, a SQL-text UPDATE and MERGE through
``sql_dml.snapshot_sql_exec``, then ``snapshot_compact``.
Phase 2 (read), over a table with six versions: ``snapshot_scan``,
``snapshot_lookup`` and an as-of ``snapshot_read`` read version 4, which
carries a key and a positional merge-on-read tombstone; ``spark.sql`` over
a ``snapshot_sql_register`` view reads version 3, which carries the key
tombstone.

The model is a Python dict ``id -> (grp, val, amt)`` updated op by op;
values are integers or quarter fractions, so every sum is exact.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import common
from common import Op, check

# Version 4 (after the SQL UPDATE) is the one version that carries both a
# key tombstone (``snapshot_delete_mor``) and a positional one (the UPDATE);
# version 5, after the SQL MERGE, carries none. The view reads
# version 3, with the key tombstone only: on version 4 the ``snapshot_table``
# source returns wrong rows, an engine defect (see README.md).
KEY_TOMBSTONED, TOMBSTONED = 3, 4


class LakehouseMaintenance:
    name = "lakehouse_maintenance"
    ITER_S = 8.0  # nominal seconds per iteration (4 cores)

    def __init__(self, spark, workdir: str, seed: int, tiny: bool):
        self.spark = spark
        self.dir = workdir
        self.seed = seed
        self.n = 400 if tiny else 5_000
        self.files = 2 if tiny else 4
        self.root = None
        self.it = 0

    # ---- inputs and model -------------------------------------------------
    def setup(self) -> None:
        rng = np.random.default_rng(self.seed)
        n = self.n
        base = {
            "id": np.arange(n, dtype=np.int64),
            "grp": rng.integers(0, 8, n).astype(np.int64),
            "val": rng.integers(0, 1000, n).astype(np.int64),
            "amt": rng.integers(0, 40_000, n) / 4.0,
        }
        # clustered upsert: a contiguous key run (updates) plus new keys
        m = max(8, n // 40)
        lo = int(rng.integers(0, n - m))
        upd_ids = np.concatenate([np.arange(lo, lo + m), np.arange(n, n + m // 4)])
        upserts = {
            "id": upd_ids.astype(np.int64),
            "grp": rng.integers(0, 8, len(upd_ids)).astype(np.int64),
            "val": rng.integers(1000, 2000, len(upd_ids)).astype(np.int64),
            "amt": rng.integers(0, 40_000, len(upd_ids)) / 4.0,
        }
        lo2 = int(rng.integers(0, n - m))
        src_ids = np.concatenate([np.arange(lo2, lo2 + m // 2), np.arange(n + m, n + m + m // 4)])
        merge_src = {
            "id": src_ids.astype(np.int64),
            "grp": rng.integers(0, 8, len(src_ids)).astype(np.int64),
            "val": rng.integers(2000, 3000, len(src_ids)).astype(np.int64),
            "amt": rng.integers(0, 40_000, len(src_ids)) / 4.0,
        }
        self.del_mod, self.del_rem = 50, int(rng.integers(0, 50))
        self.upd_grp = int(rng.integers(0, 8))
        os.makedirs(self.dir, exist_ok=True)
        self.base_path = os.path.join(self.dir, "base.parquet")
        self.upserts_path = os.path.join(self.dir, "upserts.parquet")
        self.src_path = os.path.join(self.dir, "merge_src.parquet")
        common.write_parquet(self.base_path, base, self.files)
        common.write_parquet(self.upserts_path, upserts)
        common.write_parquet(self.src_path, merge_src)
        # compaction target: about ``self.files`` output files
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(self.base_path) for f in fs if f.endswith(".parquet"))
        self.target_bytes = max(1, size // self.files)

        # ---- the model, op by op ----
        table = dict(_rows(base))
        table.update(_rows(upserts))
        for k in [k for k in table if k % self.del_mod == self.del_rem]:
            del table[k]
        self.key_tombstoned = dict(table)  # version 3
        for k, (g, v, a) in list(table.items()):
            if g == self.upd_grp:
                table[k] = (g, v + 1000, a)
        self.tombstoned = dict(table)  # version 4
        for k, row in _rows(merge_src):
            table[k] = (table[k][0], table[k][1], row[2]) if k in table else row
        self.final = table  # versions 5 and 6
        span = max(4, n // 50)
        self.scan_lo = int(rng.integers(0, n - span))
        self.scan_hi = self.scan_lo + span
        deleted = next(k for k in range(n) if k % self.del_mod == self.del_rem)
        # an upserted key, a deleted one, one the upsert inserted, an absent one
        self.lookup_keys = [lo, deleted, n, int(n + 10 * m)]

    # ---- one closed-loop iteration ----------------------------------------
    def ops(self) -> list[Op]:
        from airflow_postgres_csv_spark.operators import snapshots as S
        from airflow_postgres_csv_spark.operators.sql_dml import snapshot_sql_exec
        from airflow_postgres_csv_spark.sources.snapshot_batch import snapshot_sql_register

        spark = self.spark
        if self.root:  # the previous iteration's table
            shutil.rmtree(self.root, ignore_errors=True)
        self.it += 1
        root = self.root = os.path.join(self.dir, f"table_{self.it}")
        tables = {"lk": root}
        view = "lk_view"
        stamp = {}

        def at_version(v):
            def verify(_out):
                check(S.snapshot_versions(root)[-1] == v, f"head is not version {v}")
            return verify

        def commit():
            return S.snapshot_commit(
                spark.read.parquet(self.base_path), root, sort_order=["id"], bloom_cols=["id"])

        def sql_merge():
            spark.read.parquet(self.src_path).createOrReplaceTempView("lk_src")
            return snapshot_sql_exec(
                spark,
                "MERGE INTO lk AS t USING lk_src AS s ON t.id = s.id "
                "WHEN MATCHED THEN UPDATE SET amt = s.amt "
                "WHEN NOT MATCHED THEN INSERT *",
                tables=tables)

        def totals(df):
            return tuple(df.selectExpr("count(*)", "sum(val)", "sum(amt)").collect()[0])

        def stamp_as_of(out):
            # the as-of read below resolves this instant to TOMBSTONED
            at_version(TOMBSTONED)(out)
            tombs = S.snapshot_history(root)[-1]["n_tombstones"]
            check(tombs == 2, f"version {TOMBSTONED} has {tombs} tombstones, expected 2")
            stamp["as_of"] = time.time_ns()

        def verify_compacted(out):
            at_version(6)(out)
            got, want = totals(S.snapshot_read(spark, root)), _total(_agg(self.final))
            check(got == want, f"compacted head {got} != {want}")

        def sql_select():
            snapshot_sql_register(spark, view, root, version=KEY_TOMBSTONED)
            return spark.sql(
                f"SELECT grp, count(*) AS n, sum(val) AS sv, sum(amt) AS sa FROM {view} "
                "GROUP BY grp").collect()

        def verify_rows(rows, keys):
            got = sorted((r["id"], r["grp"], r["val"], r["amt"]) for r in rows)
            want = sorted((k, *self.tombstoned[k]) for k in keys if k in self.tombstoned)
            check(got == want, f"rows differ from the model ({len(got)} vs {len(want)})")

        def verify_groups(rows):
            got = sorted((r["grp"], r["n"], r["sv"], r["sa"]) for r in rows)
            check(got == _agg(self.key_tombstoned), "grouped SQL result differs from the model")

        def verify_as_of(got):
            want = _total(_agg(self.tombstoned))
            check(got == want, f"as-of read {got} != {want}")

        return [
            Op("snapshots.snapshot_commit", 1, commit, at_version(1)),
            Op("snapshots.snapshot_merge", 1,
               lambda: S.snapshot_merge(
                   spark, root, spark.read.parquet(self.upserts_path), key="id"),
               at_version(2)),
            Op("snapshots.snapshot_delete_mor", 1,
               lambda: S.snapshot_delete_mor(
                   spark, root, f"id % {self.del_mod} = {self.del_rem}", key_col="id"),
               at_version(3)),
            Op("sql_dml.snapshot_sql_exec.update", 1,
               lambda: snapshot_sql_exec(
                   spark, f"UPDATE lk SET val = val + 1000 WHERE grp = {self.upd_grp}",
                   tables=tables),
               stamp_as_of),
            Op("sql_dml.snapshot_sql_exec.merge", 1, sql_merge, at_version(5)),
            Op("snapshots.snapshot_compact", 1,
               lambda: S.snapshot_compact(spark, root, target_bytes=self.target_bytes),
               verify_compacted),
            Op("snapshots.snapshot_scan", 2,
               lambda: S.snapshot_scan(
                   spark, root, "id", self.scan_lo, self.scan_hi, version=TOMBSTONED).collect(),
               lambda rows: verify_rows(rows, range(self.scan_lo, self.scan_hi + 1))),
            Op("snapshots.snapshot_lookup", 2,
               lambda: [r for k in self.lookup_keys
                        for r in S.snapshot_lookup(
                            spark, root, "id", k, version=TOMBSTONED).collect()],
               lambda rows: verify_rows(rows, self.lookup_keys)),
            Op("snapshots.snapshot_read", 2,
               lambda: totals(S.snapshot_read(spark, root, as_of=stamp["as_of"])),
               verify_as_of),
            Op("snapshot_batch.sql_select", 2, sql_select, verify_groups),
        ]

    def files_read_ratios(self) -> dict:
        """Files the engine's planner keeps for the range scan and for a
        point lookup, as a share of the read version's files (traced run
        only, untimed)."""
        from airflow_postgres_csv_spark.operators import snapshots as S

        v = TOMBSTONED
        scan = S.snapshot_scan_files(self.root, "id", self.scan_lo, self.scan_hi, version=v)
        looks = [S.snapshot_lookup_files(self.root, "id", k, version=v) for k in self.lookup_keys]
        return {
            "snapshots.snapshot_scan.files_read_ratio":
                scan["kept"] / (scan["kept"] + scan["skipped"]),
            "snapshots.snapshot_lookup.files_read_ratio": sum(
                len(p["kept"]) / (len(p["kept"]) + p["skipped"]) for p in looks) / len(looks),
        }

def _rows(cols: dict):
    """(id, (grp, val, amt)) pairs of a column dict, as Python numbers."""
    return zip(cols["id"].tolist(), zip(
        cols["grp"].tolist(), cols["val"].tolist(), cols["amt"].tolist()))


def _agg(table: dict) -> list[tuple]:
    groups: dict[int, list] = {}
    for g, v, a in table.values():
        acc = groups.setdefault(g, [0, 0, 0.0])
        acc[0] += 1
        acc[1] += v
        acc[2] += a
    return sorted((g, c, sv, sa) for g, (c, sv, sa) in groups.items())


def _total(groups: list[tuple]) -> tuple:
    return (sum(g[1] for g in groups), sum(g[2] for g in groups), sum(g[3] for g in groups))
