"""Seeded transcript corpora for the benchmark.

Both generators return a pyarrow Table with the transcript schema
(conv_id, turn_idx, role, text, tool, ts); the benchmark writes it to
parquet and the program only ever sees that parquet file.

* ``template_corpus``: the FIXTURES.md section 2 pool T1-T10 with
  low-cardinality fills. T11 (placeholder bytes) is left out and T1's path
  uses '/', so no row holds a backslash, NUL or 0x11-0x13 byte and every
  Arrow batch takes the vectorised encoder. T3 is the hot template (45%).
* ``agent_corpus``: agent-style transcripts. Turns are multi-line, every
  turn carries fresh hex ids and paths (so the variable dictionary grows
  with the row count), and tool turns carry JSON-escaped output with
  Windows paths, so they hold backslashes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

TURNS_PER_CONV = 8
ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("none", "search", "bash", "editor", "browser")
# 60% "none" (FIXTURES.md section 1)
TOOL_WEIGHTS = (0.6, 0.1, 0.1, 0.1, 0.1)
BASE_TS_US = 1_462_692_845_251_000  # 2016-05-08T07:34:05.251 UTC

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

# Template id -> share of rows. T3 (index 2) is the hot template.
TEMPLATE_WEIGHTS = (0.07, 0.05, 0.45, 0.07, 0.06, 0.06, 0.06, 0.05, 0.07, 0.06)
HOT_TEMPLATE = 2
MODES = ("fast", "slow", "auto")


def _frame(rng: np.random.Generator, n: int, texts: list[str]) -> pa.Table:
    idx = np.arange(n)
    conv = idx // TURNS_PER_CONV
    step_ms = rng.integers(1, 500, size=n)
    ts_us = BASE_TS_US + np.cumsum(step_ms) * 1000
    tools = rng.choice(len(TOOLS), size=n, p=TOOL_WEIGHTS)
    return pa.table(
        [
            pa.array([f"conv-{c:06d}" for c in conv]),
            pa.array(idx % TURNS_PER_CONV, type=pa.int32()),
            pa.array([ROLES[i % 4] for i in idx]),
            pa.array(texts),
            pa.array([TOOLS[t] for t in tools]),
            pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
        ],
        schema=SCHEMA,
    )


def template_corpus(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    tid = rng.choice(len(TEMPLATE_WEIGHTS), size=n, p=TEMPLATE_WEIGHTS)
    a = rng.integers(0, 50, size=n)
    b = rng.integers(0, 200, size=n)
    c = rng.integers(0, 1000, size=n)
    f = rng.integers(0, 1000, size=n)
    texts = []
    for i in range(n):
        t = tid[i]
        ai, bi, ci, fi = int(a[i]), int(b[i]), int(c[i]), int(f[i])
        if t == 0:
            texts.append(f"Task MyDog{ai} started by user{bi} from APet{ai % 10}/test.txt")
        elif t == 1:
            texts.append("statictext and more static text")
        elif t == 2:
            texts.append(f"used {ci} of {fi % 97}.{fi % 10} GB in {bi % 9}.{ai % 10} seconds")
        elif t == 3:
            texts.append(f"value=abc{bi} mode={MODES[ai % 3]}")
        elif t == 4:
            texts.append(f"hash deadBEEF{ai} commit {bi:03X}ACDFE21")
        elif t == 5:
            texts.append(f"retcode -{1 + ai} offset 0x{ai:X} pad 007")
        elif t == 6:
            texts.append(f"ratio {ci}.{fi:03d}4567890123 neg -0.{ai % 9 + 1}25")
        elif t == 7:
            texts.append(f"overflow 12345678901234567.{ai % 10} text 1.2.{bi % 20}")
        elif t == 8:
            texts.append(
                f"tool {TOOLS[1 + ai % 4]} latency {ci} ms conv conv-{bi * 5:06d}"
            )
        else:
            texts.append(
                f"error at 2016-05-08 07:34:{ai:02d}.{ci:03d}\nis multiline\ncaused by {bi}"
            )
    return _frame(rng, n, texts)


def _hex(rng: np.random.Generator, n: int, width: int) -> list[str]:
    bits = rng.integers(0, 1 << 62, size=n, dtype=np.int64)
    return [format(int(x), "016x")[-width:] for x in bits]


def agent_corpus(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    h1 = _hex(rng, n, 12)
    h2 = _hex(rng, n, 10)
    k = rng.integers(0, 400, size=n)
    dur = rng.integers(1, 9000, size=n)
    texts = []
    for i in range(n):
        role = i % 4
        ki, di = int(k[i]), int(dur[i])
        if role == 0:
            texts.append(
                f"Please fix the failing check in src/pkg_{ki % 40}/handler_{h1[i]}.py\n"
                f"the run id is run-{h2[i]}"
            )
        elif role == 1:
            texts.append(
                f"Reading module_{h1[i]} now.\n"
                f"Next step: run tests/test_{ki}.py -k case_{h2[i]}\n"
                f"then report back"
            )
        elif role == 2:
            texts.append(f"context window {8000 + ki * 10} tokens\nsession sess-{h1[i]}")
        else:
            texts.append(
                '{"exit_code": 0, "stdout": "C:\\\\Users\\\\dev\\\\proj_'
                f"{h1[i]}\\\\logs\\\\out_{h2[i]}.txt\\n"
                f'PASSED {ki} checks in {di / 1000:.3f}s"}}'
            )
    return _frame(rng, n, texts)
