"""Seeded benchmark inputs, generated in one process and written as parquet.

Every fixture row is a pure function of ``(conv_seq, turn_idx)``
(``ocr_spark.fixtures``), so the benchmark seed picks a ``conv_seq`` offset
instead of editing the fixture's own seed. Sizes are fixed in turns, not
conversations: the fixture's Zipf ladder puts a 2000-10000-turn trace in 1%
of conversations, so a fixed conversation count would swing the input size
several-fold between seeds. Regular conversations are taken in order from the
offset until they hold exactly ``REGULAR_TURNS`` (the last one cut short),
and each long trace is the first ``LONG_TURNS`` turns of a longer one. A
prefix of a conversation is itself a valid conversation: a duplicate turn
only copies an earlier turn.

- ``full_mixed``: the full fixture mix (plain, html, pdf_blocks, ocr_lines,
  short, malformed, duplicate turns) with long traces, into an empty store.
- ``append_delta``: ``full_mixed``'s table over a store that already holds
  all of it but ``DELTA_TURNS`` turns: whole regular conversations in hash
  order, plus the tail of one more (new turns on a stored conversation).
  The job appends that delta.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark import fixtures

REGULAR_TURNS = 6000  # turns from short and medium conversations
LONG_TRACES = 2  # long agent traces per mixed input
LONG_TURNS = 3000  # turns kept from each long trace
DELTA_TURNS = 1200  # append_delta: turns one job commits (10% of the table)
SAMPLE_CONVS = 6  # conversations checked row by row each run

_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("tool", pa.string(), nullable=False),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)


@dataclass
class Workload:
    name: str
    rows: list  # every input row, as fixtures.conversation_rows tuples
    input_dir: str  # the job's input table
    parsed_dir: str  # the turns one job extracts (== input_dir unless append_delta)
    base_dir: str | None  # rows already committed before each job
    sample: list  # conv_ids checked row by row against the oracle
    delta: frozenset = frozenset()  # append_delta: (conv_id, turn_idx) one job commits

    def parsed(self, key: tuple) -> bool:
        """Whether one job extracts this turn."""
        return not self.delta or key in self.delta

    def write(self, n_files: int) -> None:
        _write(self.rows, self.input_dir, n_files)
        if self.delta:
            _write([r for r in self.rows if r[:2] not in self.delta], self.base_dir, n_files)
            _write([r for r in self.rows if r[:2] in self.delta], self.parsed_dir, n_files)


def conv_offset(seed: int) -> int:
    """The seed's first ``conv_seq``. Fixture timestamps advance an hour per
    ``conv_seq``, so offsets stay below 50M to keep them before year 9999."""
    return 10_000 + (seed * 1_000_003) % 50_000_000


def _mixed(seed: int) -> tuple[list, dict, list]:
    """Returns (rows, regular conv_id -> its rows, long conv_ids)."""
    start = conv_offset(seed)
    rows, regular, long_ids = [], {}, []
    seq = start
    while len(rows) < REGULAR_TURNS:
        if fixtures.conv_length(seq) < 2000:
            conv = fixtures.conversation_rows(seq)[: REGULAR_TURNS - len(rows)]
            rows.extend(conv)
            regular[conv[0][0]] = conv
        seq += 1
    seq = start
    while len(long_ids) < LONG_TRACES:
        if fixtures.conv_length(seq) >= LONG_TURNS:
            conv = fixtures.conversation_rows(seq)[:LONG_TURNS]
            rows.extend(conv)
            long_ids.append(conv[0][0])
        seq += 1
    return rows, regular, long_ids


def _delta(regular: dict) -> set:
    """``DELTA_TURNS`` keys: whole conversations in hash order, then the
    tail of the next one."""
    keys: set = set()
    for conv_id in sorted(regular, key=lambda c: hashlib.md5(c.encode()).digest()):
        conv = regular[conv_id]
        take = min(len(conv), DELTA_TURNS - len(keys))
        keys.update(r[:2] for r in conv[len(conv) - take :])
        if len(keys) == DELTA_TURNS:
            return keys
    raise ValueError("regular conversations hold fewer turns than DELTA_TURNS")


def _write(rows: list, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.Table.from_arrays([pa.array(c, t.type) for c, t in zip(cols, _SCHEMA)], schema=_SCHEMA)
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def make(name: str, seed: int, root: str) -> Workload:
    """Generate workload ``name`` for ``seed`` in memory (untimed); paths
    point under ``root`` and are filled by ``Workload.write``."""
    rnd = random.Random(seed)
    input_dir = os.path.join(root, "input")
    rows, regular, long_ids = _mixed(seed)
    if name == "full_mixed":
        sample = [long_ids[0], *rnd.sample(sorted(regular), SAMPLE_CONVS - 1)]
        return Workload(name, rows, input_dir, input_dir, None, sample)
    delta = _delta(regular)
    new_convs = sorted({k[0] for k in delta})
    half = SAMPLE_CONVS // 2
    sample = [
        long_ids[0],
        *rnd.sample(new_convs, half),
        *rnd.sample(sorted(set(regular) - set(new_convs)), SAMPLE_CONVS - half - 1),
    ]
    return Workload(
        name,
        rows,
        input_dir,
        os.path.join(root, "delta_input"),
        os.path.join(root, "base_input"),
        sample,
        frozenset(delta),
    )
