"""Property-based replay correctness (SURVEY §5.3, hypothesis-driven).

For arbitrary small I/U/D event sequences — including pathological shapes a
seeded generator rarely hits (delete-before-insert, same-key op runs,
re-insert after delete at every position) — the engine's final state must
equal the single-threaded dict oracle, in both storage modes and regardless
of epoch chunking. The text needs the exact normalizer (NFC, ZWSP,
Unicode whitespace), so LWW and normalization are checked together.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from transcript_cdc.datagen import replay_oracle
from transcript_cdc.plans.ingest import CdcIngestJob, IngestConfig

# (key_id 0..5, op 0=I 1=U 2=D) sequences over a 6-key space: small enough
# to exhaust weird interleavings, big enough to cross bucket boundaries.
EVENTS = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 2)), min_size=1, max_size=40
)


# Text the normalizer changes: NFD é (NFC composes it), ZWSP, NBSP and
# U+3000 runs, leading/trailing whitespace; plus one ASCII-only shape.
_TEXTS = [
    "text {k} rev{i}",
    "  e\u0301tude\u200b {k}\u00a0\u00a0rev{i}\t",
    "\u3000\u3000cafe\u0301 {k}\u200b\u200brev{i}\u2029",
    "\u00a0{k}\u3000\u00a0 rev{i} \u200b",
]


def _feed_df(seq: list[tuple[int, int]]) -> pd.DataFrame:
    ops = np.array(["I", "U", "D"])
    n = len(seq)
    keys = np.array([k for k, _ in seq])
    op = ops[[o for _, o in seq]]
    return pd.DataFrame(
        {
            "lsn": np.arange(n, dtype=np.int64),
            "op": op,
            "conv_id": np.array([f"conv-{k % 3}" for k in keys]),
            "turn_idx": (keys // 3).astype(np.int32),
            "role": np.where(op == "D", None, "user"),
            "text": np.where(op == "D", None, [
                _TEXTS[i % len(_TEXTS)].format(k=k, i=i) for i, k in enumerate(keys)
            ]),
            # mixed None/str so parquet type inference sees a string column
            "tool": np.where((keys % 2 == 0) & (op != "D"), "search", None),
            "ts": pd.to_datetime(
                pd.Timestamp("2025-01-01").value + np.arange(n) * 10**9
            ).astype("datetime64[us]"),
        }
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seq=EVENTS, storage=st.sampled_from(["cow", "mor"]), epoch_events=st.sampled_from([7, 1000]))
def test_any_sequence_matches_oracle(spark, tmp_path_factory, seq, storage, epoch_events):
    pdf = _feed_df(seq)
    d = tmp_path_factory.mktemp("prop")
    feed = str(d / "feed")
    os.makedirs(feed, exist_ok=True)
    # explicit arrow schema: tiny examples can have all-null columns, which
    # would otherwise be inferred as null-typed parquet columns
    arrow_schema = pa.schema(
        [
            ("lsn", pa.int64()),
            ("op", pa.string()),
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us")),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False),
        os.path.join(feed, "part-0.parquet"),
    )

    job = CdcIngestJob(
        spark,
        feed,
        str(d / "table"),
        IngestConfig(
            n_buckets=4, epoch_events=epoch_events, storage=storage,
        ),
    )
    job.run()
    eng = (
        job.final_state()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    orc = replay_oracle(pdf, normalize=True)
    assert len(eng) == len(orc)
    for col in ["conv_id", "turn_idx", "text", "role"]:
        e = eng[col].where(eng[col].notna(), None).tolist()
        o = orc[col].where(orc[col].notna(), None).tolist()
        assert e == o, f"{storage}/{epoch_events}: mismatch in {col}"
