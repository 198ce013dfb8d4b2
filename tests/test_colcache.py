"""The projection Column cache (colcache.py): trees are reused within a
session and never handed to the next one."""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cached_columns_do_not_outlive_their_session():
    """Builds a Handlebars projection and a shingles column in one session,
    stops it, and builds both again in a new one: the second session gets
    new Column objects, which render its own rows. Runs in its own process,
    because the suite shares one session."""
    script = textwrap.dedent(
        """
        from pyspark.sql import SparkSession

        from entity_etl_spark.ext.dedup import shingles
        from entity_etl_spark.hbs import compile_hbs

        def session():
            return (
                SparkSession.builder.master("local[1]")
                .config("spark.ui.enabled", "false")
                .config("spark.sql.shuffle.partitions", "1")
                .getOrCreate()
            )

        def build(spark, text):
            df = spark.createDataFrame([(text,)], "text string")
            return df, compile_hbs("<{{text}}>", df), shingles("text", 2)

        df, hbs1, sh1 = build(session(), "a b c")
        again = build(df.sparkSession, "a b c")
        assert again[1] is hbs1 and again[2] is sh1
        df.sparkSession.stop()

        df, hbs2, sh2 = build(session(), "x y z")
        assert hbs2 is not hbs1 and sh2 is not sh1
        row = df.select(hbs2.alias("r"), sh2.alias("s")).first()
        assert (row.r, row.s) == ("<x y z>", ["x y", "y z"]), row
        df.sparkSession.stop()
        print("ok")
        """
    )
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0 and out.stdout.strip().endswith("ok"), (
        out.stdout[-2000:] + out.stderr[-4000:]
    )
