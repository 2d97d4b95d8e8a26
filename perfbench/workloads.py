"""The workloads.  Each has a set-up (untimed warm-up included, so it
lands in ``setup_s``) and one timed *round* (a bulk family and a small
family of ops, summed separately); every op's output is checked.

- ``convert``: bulk = the four byte legs (csv->csv, csv->parquet zstd,
  streaming csv->parquet, parquet->parquet passthrough), one sample
  each; small = the ``drift`` concat of small schema-drifting files.
- ``gates``: bulk = the ``llm`` gate subset; small = the ``rel`` subset;
  each gate built and executed into the noop sink.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
from checks import diff, frame_digest


def _check_digest(con_rel: str, want: dict):
    def check(_result) -> str | None:
        con = gen.duck()
        return diff(gen.content_digest(con, con_rel), want)
    return check


def _release(spark) -> None:
    """The gate boundary bench.py uses: drop stagings and cached plans
    (stagings first, so a traced run sees what they held)."""
    from streaming_parquet_spark.operators.similarity import release_materialized

    release_materialized()
    spark.catalog.clearCache()


class Workload:
    warmup_passes = 1
    round_s: float  # nominal round length: --seconds / round_s rounds


class Convert(Workload):
    round_s = 7.0

    def setup(self, run) -> None:
        from streaming_parquet_spark.engine import Engine
        from streaming_parquet_spark.runspec import RunSpec
        from streaming_parquet_spark.streaming.stream import StreamEngine

        e, src = run.expect, run.inputs
        csv = os.path.join(src, e["csv_dir"])
        pqd = os.path.join(src, e["parquet_dir"])
        eng, seng = Engine(run.spark), StreamEngine(run.spark)
        # methods are looked up per call, so a traced round sees the
        # wrapped Engine.run / StreamEngine.run
        batch_run = lambda spec: eng.run(spec)  # noqa: E731
        stream_run = lambda spec: seng.run(spec)  # noqa: E731
        batch = dict(single_file=False, roll_by_rows=10**9)
        # (name, runner, spec(out), input bytes, read-back relation, expected)
        self.legs = [
            ("csv_to_csv", batch_run,
             lambda o: RunSpec(inputs=[csv], out=o, **batch),
             e["csv_bytes"], "read_csv('{o}/**/*.csv', header=true)", e["csv_digest"]),
            ("csv_to_parquet", batch_run,
             lambda o: RunSpec(inputs=[csv], out=o, compression="zstd", **batch),
             e["csv_bytes"], "read_parquet('{o}/**/*.parquet')", e["csv_digest"]),
            ("stream_csv_to_parquet", stream_run,
             lambda o: RunSpec(inputs=[csv], out=o, compression="zstd",
                               state=os.path.join(os.path.dirname(o), "ckpt"),
                               trigger_files=gen.STREAM_TRIGGER_FILES, **batch),
             e["csv_bytes"], "read_parquet('{o}/**/*.parquet')", e["csv_digest"]),
            ("parquet_to_parquet", batch_run,
             lambda o: RunSpec(inputs=[pqd], out=o, compression="snappy", **batch),
             e["parquet_bytes"], "read_parquet('{o}/**/*.parquet')",
             e["parquet_digest"]),
        ]
        drift = os.path.join(src, e["drift_dir"])
        self.drift = (batch_run, lambda o: RunSpec(inputs=[drift], out=o, **batch))
        self.round(run)  # the warm-up round

    @staticmethod
    def _out_dir(run, name: str) -> str:
        """A fresh directory per sample; outputs land inside it."""
        d = os.path.join(run.work, f"{name}-{len(run.ops)}")
        os.makedirs(d)
        return d

    def round(self, run) -> None:
        i0 = len(run.ops)
        for name, runner, spec, nbytes, rel, want in self.legs:
            d = self._out_dir(run, name)
            out = os.path.join(d, "out.csv" if name == "csv_to_csv" else "out.parquet")
            dt, _ = run.op(name, "bulk", lambda: runner(spec(out)),
                           _check_digest(rel.format(o=d), want))
            run.figure(f"{name}_mb_s", nbytes / 1e6 / dt)
            run.sink_bytes(nbytes, d)
            shutil.rmtree(d, ignore_errors=True)
        run.round_sum("bulk", i0)

        d = self._out_dir(run, "drift")
        i0 = len(run.ops)
        runner, spec = self.drift
        dt, _ = run.op("drift", "small", lambda: runner(spec(os.path.join(d, "out.parquet"))),
                       lambda _r: self._check_drift(d, run.expect["drift"]))
        run.figure("drift_concat_s", dt)
        run.round_sum("small", i0)
        shutil.rmtree(d, ignore_errors=True)

    @staticmethod
    def _check_drift(out: str, want: dict) -> str | None:
        con = gen.duck()
        rel = f"read_parquet('{out}/**/*.parquet', union_by_name=true)"
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()]
        if sorted(cols) != sorted(want["nonnull"]):
            return f"columns: got {sorted(cols)}, want {sorted(want['nonnull'])}"
        counts = con.execute(
            "SELECT count(*), " + ", ".join(f'count("{c}")' for c in cols)
            + f" FROM {rel}"
        ).fetchone()
        got = {"rows": counts[0], "nonnull": dict(zip(cols, counts[1:]))}
        return diff(got, {"rows": want["rows"], "nonnull": want["nonnull"]})


class Gates(Workload):
    # the one untimed warm-up pass is the checked pass
    round_s = 8.0

    def setup(self, run) -> None:
        from streaming_parquet_spark.queries import QUERIES

        self.queries = QUERIES
        spark, d = run.spark, run.inputs
        for g in gen.GATES:
            _release(spark)
            want = run.expect["oracle"][g]
            run.op(g, "checked", lambda g=g: QUERIES[g](spark, d).toPandas(),
                   lambda df, want=want: diff(frame_digest(df), want))

    def round(self, run) -> None:
        spark, d = run.spark, run.inputs
        for family, gates, fig in (("bulk", gen.LLM_GATES, "gates_llm_s"),
                                   ("small", gen.REL_GATES, "gates_rel_s")):
            i0 = len(run.ops)
            for g in gates:
                _release(spark)
                split = {}

                def fn(g=g, split=split):
                    t0 = time.perf_counter()
                    df = self.queries[g](spark, d)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    split["build"], split["exec"] = t1 - t0, time.perf_counter() - t1

                run.op(g, family, fn)
                if split:
                    run.gate_split(g, family, split["build"], split["exec"])
            run.figure(fig, run.round_sum(family, i0))


WORKLOADS = {"convert": Convert, "gates": Gates}
