"""JIT-aware codegen limits, applied once per session by the operators.

Why this exists (round-6 measurement): whole-stage codegen fuses every
adjacent projection into ONE generated ``processNext`` method.  For wide
expression plans — the 18-rule cascade stacked on extraction, mapping and
the sink projection — that method compiles fine (Janino splits at the JVM's
64KB hard limit) but exceeds HotSpot's ``DontCompileHugeMethods`` threshold
(8000 bytecodes, on by default), so the hottest loop in the job runs as
INTERPRETED BYTECODE forever: no C2, no OSR.  Spark ships exactly the right
escape hatch — ``spark.sql.codegen.hugeMethodLimit`` makes a stage whose
generated method exceeds the limit fall back to per-operator execution,
where each projection compiles its own small, JIT-able class — but its
default (65535) tracks the JVM's hard limit, not the JIT's.

Measured (interleaved same-session A/Bs, min-of-warms, local CPUS=32 box):

    full cascade output, persisted 1M-row input:    3.59s -> 1.48s
    pipeline write local[2] 1M rows:           36.0-38.1 -> 29.4-33.3s
    pipeline write local[8] 1M rows:           10.4-12.4 ->  8.5-10.7s
    pipeline write local[32] 2M rows:          10.8-12.7 ->  9.9-11.2s

Stages whose methods stay under 8000 bytecodes keep whole-stage codegen
unchanged; methods over the limit could never be JIT-compiled anyway, so
the fallback is strictly better on every shape we measured.  An explicit
user setting (any value, including Spark's own default) is respected: the
conf is only applied when the key is UNSET in the session.

Scale note: this is a JVM-property fix, not a local[32] tune — the same
interpreted-bytecode cliff exists on any executor JVM running this plan
shape at any data size.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

__all__ = ["ensure_jit_codegen", "JIT_HUGE_METHOD_LIMIT"]

# HotSpot -XX:DontCompileHugeMethods kicks in above -XX:HugeMethodLimit=8000
# bytecodes (non-tunable in product builds); generated methods above it are
# never JIT-compiled.
JIT_HUGE_METHOD_LIMIT = 8000


def ensure_jit_codegen(spark: SparkSession) -> None:
    """Lower ``spark.sql.codegen.hugeMethodLimit`` to the JIT's compile
    ceiling so over-limit whole-stage methods fall back to per-operator
    codegen.  Applied only when the conf is UNSET in this session (a
    ``conf.get(key, None)`` probe distinguishes unset from an explicit
    user value — even one equal to Spark's default), so user settings are
    never overridden.  One cheap conf RPC per call; no driver-side cache
    keyed on session identity (CPython recycles ids)."""
    conf = spark.conf
    if conf.get("spark.sql.codegen.hugeMethodLimit", None) is None:
        conf.set("spark.sql.codegen.hugeMethodLimit", str(JIT_HUGE_METHOD_LIMIT))
