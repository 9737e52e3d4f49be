"""``etl_roundtrip``: the paper's own path, query→CSV and CSV→table.

Phase 1 (import): ``etl.csv_to_table`` on a plain CSV and on a non-default
dialect (tab delimiter, ``\\N`` null marker, positional ``columns``
mapping with header skip, gzip input), then ``jdbc.csv_to_postgres`` into
in-memory embedded Derby.
Phase 2 (export): a filtered, parametrised ``etl.query_to_csv`` to part
files, a gzip single-file export, and ``jdbc.postgres_to_csv``.

No snapshot, dedup or Python-UDF code runs here. Each import overwrites its
table (``truncate=True``), so every iteration does identical work. Every
exported file is read back in Python and compared with the model.
"""

from __future__ import annotations

import csv
import glob
import gzip
import io
import os

import numpy as np

from common import DERBY_DRIVER, Op, check

SCHEMA_DDL = "id INT, name STRING, amount DOUBLE, category STRING"
DIALECT_DDL = "k INT, who STRING, amt DOUBLE, cat STRING, memo STRING"
DIALECT_COLUMNS = ["id", "name", "amount", "category", "note"]
WORDS = ("alder", "birch", "cedar", "dogwood", "elm", "fir", "hazel", "larch")


class EtlRoundtrip:
    name = "etl_roundtrip"
    ITER_S = 1.7  # nominal seconds per iteration (4 cores)

    def __init__(self, spark, workdir: str, seed: int, tiny: bool):
        self.spark = spark
        self.dir = workdir
        self.seed = seed
        self.n = 400 if tiny else 20_000
        # in-memory Derby, one database per workload directory: the JVM
        # outlives a session restart, and so would a shared database
        self.url = f"jdbc:derby:memory:{os.path.basename(workdir)};create=true"

    # ---- inputs and model -------------------------------------------------
    def setup(self) -> None:
        rng = np.random.default_rng(self.seed)
        n = self.n
        ids = rng.permutation(n).astype(int)
        last = rng.integers(0, len(WORDS), n)
        first = rng.integers(0, len(WORDS), n)
        comma = rng.random(n) < 0.3
        amounts = rng.integers(0, 400_000, n) / 4.0  # exact in binary
        cats = rng.integers(0, 8, n)
        has_note = rng.random(n) < 0.7
        self.rows = []
        for i in range(n):
            name = (
                f"{WORDS[last[i]].title()}, {WORDS[first[i]][0].upper()}"
                if comma[i]
                else f"{WORDS[first[i]].title()} {WORDS[last[i]].title()}"
            )
            note = f"{WORDS[(ids[i] * 7) % 8]}-{ids[i] % 97}" if has_note[i] else None
            self.rows.append((int(ids[i]), name, float(amounts[i]), f"c{cats[i]}", note))
        os.makedirs(self.dir, exist_ok=True)
        self.plain_csv = os.path.join(self.dir, "orders.csv")
        with open(self.plain_csv, "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(["id", "name", "amount", "category"])
            w.writerows(r[:4] for r in self.rows)
        self.plain_bytes = os.path.getsize(self.plain_csv)
        self.dialect_gz = os.path.join(self.dir, "orders_dialect.tsv.gz")
        with gzip.open(self.dialect_gz, "wt", newline="") as f:
            f.write("\t".join(["K", "WHO", "AMT", "CAT", "MEMO"]) + "\n")
            for r in self.rows:
                f.write("\t".join("\\N" if v is None else str(v) for v in r) + "\n")
        self.lo = float(np.quantile(amounts, 0.4))
        self.skip_cat = "c3"
        self.jdbc_hi = float(np.quantile(amounts, 0.5))
        self.want_filtered = sorted(
            r[:4] for r in self.rows if r[2] >= self.lo and r[3] != self.skip_cat
        )
        self.want_noted = sorted(r for r in self.rows if r[4] is not None)
        self.want_jdbc = sorted(r[:4] for r in self.rows if r[2] < self.jdbc_hi)
        self.out_parts = os.path.join(self.dir, "export_parts")
        self.out_gz = os.path.join(self.dir, "export_single.csv.gz")
        self.out_jdbc = os.path.join(self.dir, "export_jdbc.csv")

    # ---- one closed-loop iteration ----------------------------------------
    def ops(self) -> list[Op]:
        from airflow_postgres_csv_spark.operators import etl, jdbc

        spark, n = self.spark, self.n

        def rowcount(got):
            check(got == n, f"imported {got} rows, expected {n}")

        return [
            Op("etl.csv_to_table", 1,
               lambda: etl.csv_to_table(spark, self.plain_csv, "perfbench_orders", truncate=True),
               rowcount),
            Op("etl.csv_to_table.dialect", 1,
               lambda: etl.csv_to_table(
                   spark, self.dialect_gz, "perfbench_orders_dialect", schema=DIALECT_DDL,
                   delimiter="\t", null_string="\\N", has_header=True,
                   columns=DIALECT_COLUMNS, truncate=True),
               rowcount),
            Op("jdbc.csv_to_postgres", 1,
               lambda: jdbc.csv_to_postgres(
                   spark, self.url, "PERFBENCH_ORDERS", self.plain_csv, truncate=True,
                   schema=SCHEMA_DDL, driver=DERBY_DRIVER),
               rowcount),
            Op("etl.query_to_csv", 2,
               lambda: etl.query_to_csv(
                   spark,
                   "SELECT id, name, amount, category FROM perfbench_orders "
                   "WHERE amount >= :lo AND category <> :cat;",
                   self.out_parts, parameters={"lo": self.lo, "cat": self.skip_cat}),
               lambda got: self._verify_export(
                   got, _read_part_files(self.out_parts), self.want_filtered)),
            Op("etl.query_to_csv.gzip_single", 2,
               lambda: etl.query_to_csv(
                   spark,
                   "SELECT id, name, amount, category, note FROM perfbench_orders_dialect "
                   "WHERE note IS NOT NULL",
                   self.out_gz, compression="gzip", single_file=True),
               lambda got: self._verify_export(
                   got, _read_csv_text(_gunzip(self.out_gz)), self.want_noted)),
            Op("jdbc.postgres_to_csv", 2,
               lambda: jdbc.postgres_to_csv(
                   spark, self.url,
                   'SELECT * FROM "PERFBENCH_ORDERS" WHERE "amount" < %(hi)s',
                   self.out_jdbc, parameters={"hi": self.jdbc_hi}, driver=DERBY_DRIVER),
               lambda got: self._verify_export(
                   got, _read_csv_text(_read(self.out_jdbc)), self.want_jdbc)),
        ]

    @staticmethod
    def _verify_export(got, rows: list[list[str]], want: list[tuple]) -> None:
        _, n = got
        check(n == len(want), f"export reported {n} rows, expected {len(want)}")
        check(len(rows) == len(want), f"exported file has {len(rows)} rows, expected {len(want)}")
        parsed = sorted(_typed(r) for r in rows)
        check(parsed == want, "exported rows differ from the model")


def _typed(r: list[str]) -> tuple:
    out = (int(r[0]), r[1], float(r[2]), r[3])
    if len(r) > 4:
        out += (r[4] if r[4] != "" else None,)
    return out


def _read(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return f.read()


def _gunzip(path: str) -> str:
    with gzip.open(path, "rt", encoding="utf-8") as f:
        return f.read()


def _read_csv_text(text: str, header: bool = True) -> list[list[str]]:
    rows = list(csv.reader(io.StringIO(text)))
    return rows[1:] if header and rows else rows


def _read_part_files(dirpath: str) -> list[list[str]]:
    rows: list[list[str]] = []
    for p in sorted(glob.glob(os.path.join(dirpath, "part-*"))):
        rows.extend(_read_csv_text(_read(p)))
    return rows
