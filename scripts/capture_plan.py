#!/usr/bin/env python
"""Capture .explain('formatted') for named queries into OUT_DIR.

Usage: python scripts/capture_plan.py OUT_DIR before|after q1 [q2 ...]
           [--no-fullloop]

Two capture modes per query:
  <name>_{tag}.txt        — the final plan exactly as the driver/bench
                            execute it (localCheckpoint boundaries and
                            all: checkpointed loop state appears as
                            "Scan ExistingRDD").
  <name>_{tag}_fullloop.txt — same construction with localCheckpoint
                            monkey-patched to identity, so ITERATIVE
                            queries keep their whole per-round lineage
                            in one plan; this is where a per-round
                            shuffle-join removal is visible. Only
                            written when the no-checkpoint construction
                            succeeds (queries with mid-loop counts pay
                            the recompute; sf0.01 keeps that cheap).
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

try:  # Spark 4: instances are the classic subclass, which OVERRIDES
    # localCheckpoint — patching the base class alone is a no-op
    from pyspark.sql.classic.dataframe import (  # noqa: E402
        DataFrame as ClassicDataFrame,
    )
except ImportError:  # pragma: no cover - Spark 3.x
    ClassicDataFrame = DataFrame

from bigdata_group4_app_spark.registry import QUERY_REGISTRY  # noqa: E402
from drive_contract import SF as SF_DIR  # noqa: E402  (the oracle SF)


def formatted(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--no-fullloop"]
    # --no-fullloop: skip the identity-checkpoint capture — iterative CC
    # queries recompute their whole lineage per convergence check under
    # it and OOM at any SF (the r13 captures hit the same wall: no
    # fullloop files exist for kcore/bfs/CC there either)
    fullloop = "--no-fullloop" not in sys.argv[1:]
    out = Path(args[0])
    tag = args[1]
    names = args[2:]
    out.mkdir(parents=True, exist_ok=True)
    builder = (
        SparkSession.builder.master("local[8]")
        .appName("capture-plan")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
    )
    # a tag containing "noBroadcast" captures the cluster shape where no
    # side fits the broadcast cap (the r13 NND evidence protocol)
    if "noBroadcast" in tag:
        builder = builder.config("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERY_REGISTRY[name](spark, SF_DIR)
        (out / f"{name}_{tag}.txt").write_text(formatted(df))
        print(f"wrote {name}_{tag}.txt")
        if not fullloop:
            continue
        real = ClassicDataFrame.localCheckpoint
        try:
            ClassicDataFrame.localCheckpoint = (  # type: ignore[assignment]
                lambda self, eager=True: self
            )
            df2 = QUERY_REGISTRY[name](spark, SF_DIR)
            (out / f"{name}_{tag}_fullloop.txt").write_text(formatted(df2))
            print(f"wrote {name}_{tag}_fullloop.txt")
        except Exception as e:  # queries that NEED the checkpoint
            print(f"fullloop skipped for {name}: {e}")
        finally:
            ClassicDataFrame.localCheckpoint = real  # type: ignore
    spark.stop()


if __name__ == "__main__":
    main()
