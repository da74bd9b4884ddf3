"""The per-slot pass counts its output rows on an accumulator inside
the pandas call (plans/round.py `_slot_pass`), and the round's phase-B
and phase-C counters come from those counts. They are exact only if a
failed task attempt's updates are dropped and the retried attempt's
are merged once: the invariant that the pass sits in the result stage
of the eager checkpoint's job. This pins it under a real task retry,
in a fresh interpreter on `local[2,2]` (two cores, a task may fail
once) with AQE on."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_counts_exact_under_task_retry(tmp_path):
    flags = [str(tmp_path / f"failed_{i}") for i in range(2)]
    script = textwrap.dedent(f"""
        import os, sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2,2]")
                 .appName("slot-pass-retry")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.sql.adaptive.enabled", "true")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setLogLevel("OFF")
        from larbin_spark.plans.round import _slot_pass

        def failing_once(flag, keep):
            def bucket_fn(pdf):
                # local[2] gives two slot buckets; failing on the odd
                # one means that when AQE coalesces both into one task,
                # the failed attempt has already counted the even one
                if (pdf["slot_id"] % 2 == 1).all():
                    try:
                        os.close(os.open(flag, os.O_CREAT | os.O_EXCL))
                    except FileExistsError:
                        pass
                    else:
                        raise RuntimeError("injected first-attempt failure")
                return pdf[keep(pdf)]
            return bucket_fn

        df = spark.range(10000).selectExpr(
            "cast(id % 97 as int) as slot_id", "id",
            "case when id % 3 = 0 then 'b' else 'a' end as k",
            "cast(id % 2 as string) as j")
        got = []
        # the second pass drops rows: the counts are of the OUTPUT
        for flag, by, keep, n in zip(
                {flags!r}, (["k"], ["k", "j"]),
                (lambda p: p["id"] >= 0, lambda p: p["id"] % 5 != 0),
                (10000, 8000)):
            frame, counts = _slot_pass(
                df, failing_once(flag, keep), df.schema, by)
            assert os.path.exists(flag), "no attempt failed"
            want = {{(tuple(r[c] for c in by) if len(by) > 1 else r[by[0]]):
                     r["count"] for r in frame.groupBy(*by).count().collect()}}
            assert counts == want, (by, counts, want)
            assert frame.count() == n
            got.append(counts)
        assert got[0] == {{"a": 6666, "b": 3334}}, got[0]
        assert sum(got[1].values()) == 8000
        print("ALL_OK")
        spark.stop()
    """)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p)
    out = subprocess.run([sys.executable, "-c", script], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ALL_OK" in out.stdout
