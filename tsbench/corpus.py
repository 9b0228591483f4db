"""The ``corpus`` workload: training-data curation jobs from ``suite``.

A round builds and then materializes each job in turn, back to back::

    ext_dedup_exact, ext_dedup_minhash_lsh, ext_dedup_ngram_jaccard, ext_text_stats

over a seeded ``documents`` table written into the work directory (see
:func:`data.write_corpus`). No TSDB layer runs. Every op's rows are
kept; once per run, outside the timed window, they are compared with
the suite's DuckDB oracle over the same parquet file.
"""

from __future__ import annotations

import os
import time

import data
from harness import CheckFailed, Op

JOBS = ["ext_dedup_exact", "ext_dedup_minhash_lsh", "ext_dedup_ngram_jaccard", "ext_text_stats"]
N_DOCS = 5000  # the sf0.1 documents table


class Corpus:
    # the second round still runs slower than the later ones (its
    # minhash job by about half); from the third on they are flat
    warmup_rounds = 2
    round_s = 10  # one timed round per started 10 s of --seconds
    root_span = "job"
    store_root = None

    def __init__(self, spark, work_dir: str, seed: int):
        from aws_greengrass_labs_database_influxdb_spark import suite

        suite.load_all()
        self.suite = suite
        self.spark = spark
        self.seed = seed
        self.dir = os.path.join(work_dir, "corpus")
        self.results: dict[str, set] = {job: set() for job in JOBS}  # distinct answers

    def load(self, setup: dict) -> None:
        t = time.perf_counter()
        os.makedirs(self.dir, exist_ok=True)
        data.write_corpus(os.path.join(self.dir, "documents.parquet"), self.seed, N_DOCS)
        setup["preload_s"] = time.perf_counter() - t

    def close(self) -> None:
        pass

    def rotation(self) -> list[Op]:
        return [self._job_op(j) for j in JOBS]

    def _job_op(self, job: str) -> Op:
        facts = {}

        def send():
            t0, c0 = time.perf_counter(), time.process_time()
            df = self.suite.QUERIES[job](self.spark, self.dir)
            t1, c1 = time.perf_counter(), time.process_time()
            pdf = df.toPandas()
            facts.update(build_ms=(t1 - t0) * 1000, build_py_cpu_ms=(c1 - c0) * 1000,
                         exec_ms=(time.perf_counter() - t1) * 1000, rows=len(pdf))
            return pdf

        def verify(pdf):
            self.results[job].add(_canon(pdf))
            return dict(facts)

        return Op(job, send, verify)

    def final_check(self) -> None:
        """Every op's rows equal its job's DuckDB oracle, order-insensitive."""
        import duckdb

        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"'{os.path.join(self.dir, 'documents.parquet')}'")
        oracles = self.suite.ORACLES
        for job in JOBS:
            want = _canon(con.execute(oracles[job]).fetchdf())
            for got in self.results[job]:
                if got[0] != want[0]:
                    raise CheckFailed(f"{job}: columns {got[0]} != {want[0]}")
                if got != want:
                    raise CheckFailed(f"{job}: {len(got[1])} rows differ from the oracle's "
                                      f"{len(want[1])}")
        con.close()


def _canon(pdf) -> tuple:
    """(column names, rows): both sorted, floats rounded to 12 places."""
    cols = sorted(pdf.columns)

    def cell(v):
        if v is None or v != v:
            return None
        if isinstance(v, float):
            return round(v, 12)
        return v.item() if hasattr(v, "item") else v

    rows = sorted((tuple(cell(v) for v in row) for row in pdf[cols].itertuples(index=False)),
                  key=repr)
    return tuple(cols), tuple(rows)
