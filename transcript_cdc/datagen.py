"""Deterministic seeded change-stream generator + single-threaded replay oracle.

This is the hermetic analogue of the reference's OAI-PMH feed scan
(/root/reference/ETL/glue/arxiv_feed.py:37-90): an ordered stream of record
mutations with a monotonically-increasing cursor. Here the cursor is an
explicit ``lsn`` and mutations are transcript-turn I/U/D events keyed on
(conv_id, turn_idx), per BASELINE.json input_hint.

Everything is numpy-vectorized so bench-scale streams (10^7+ events) generate
in seconds. The oracle (`replay_oracle`) is a trivial dict replay in lsn
order — deliberately naive, so engine correctness is checked against an
implementation too simple to share bugs with the engine.
"""

from __future__ import annotations

import unicodedata
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# object dtype: fancy-indexing these pools then yields object arrays
# directly, skipping the U-dtype → object astype pandas would do later
_ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
_TOOLS = np.array(["search", "python", "browser", "calculator", "none"], dtype=object)
_MODELS = np.array(["m-alpha", "m-beta", "m-gamma"], dtype=object)

# Messy-whitespace / unicode fragments injected into text so the Arrow
# normalizer (functions/normalize.py) has real work to do. Includes NFD
# decomposed chars (é = é), NBSP, tabs, CRLF, zero-width space.
_MESS = np.array(
    ["", "  ", "\t", "   ", "\r\n", "   \t ", "​", " é ", "\n\n "]
)


@dataclass
class StreamSpec:
    """Knobs for the generated change stream (FIXTURES.md §1)."""

    n_conversations: int = 500
    avg_turns: int = 10
    max_turns: int = 64
    update_ratio: float = 0.35  # updates per insert
    delete_ratio: float = 0.08  # deletes per insert
    absent_delete_ratio: float = 0.01  # deletes of never-inserted keys
    zipf_s: float = 1.2  # hot-conversation skew exponent
    out_of_order_fraction: float = 0.2  # file order != lsn order
    evolution_at: float = 0.6  # lsn fraction after which model/tokens appear
    seed: int = 42
    events_per_file: int = 250_000

    derived: dict = field(default_factory=dict)


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return w / w.sum()


def generate_events(spec: StreamSpec) -> pd.DataFrame:
    """Generate the full change stream as one pandas DataFrame, lsn-ordered.

    Columns: lsn, op, conv_id, turn_idx, role, text, tool, ts, model, tokens.
    model/tokens are None for lsn below the evolution point (the writer drops
    the columns entirely for pre-evolution files, see write_change_feed).
    """
    rng = np.random.default_rng(spec.seed)
    n_conv = spec.n_conversations

    turns = np.clip(
        rng.geometric(1.0 / spec.avg_turns, size=n_conv), 1, spec.max_turns
    )
    conv_of_insert = np.repeat(np.arange(n_conv), turns)
    # ragged arange without a per-conversation Python loop:
    # arange(n_ins) minus each conversation's start offset
    n_ins = conv_of_insert.size
    turn_of_insert = np.arange(n_ins) - np.repeat(np.cumsum(turns) - turns, turns)

    w = _zipf_weights(n_conv, spec.zipf_s)
    n_upd = int(n_ins * spec.update_ratio)
    n_del = int(n_ins * spec.delete_ratio)
    n_adel = int(n_ins * spec.absent_delete_ratio)

    conv_upd = rng.choice(n_conv, size=n_upd, p=w)
    turn_upd = (rng.random(n_upd) * turns[conv_upd]).astype(np.int64)
    conv_del = rng.choice(n_conv, size=n_del, p=w)
    turn_del = (rng.random(n_del) * turns[conv_del]).astype(np.int64)
    conv_adel = rng.choice(n_conv, size=n_adel, p=w)
    turn_adel = turns[conv_adel] + rng.integers(1, 8, size=n_adel)  # never inserted

    conv = np.concatenate([conv_of_insert, conv_upd, conv_del, conv_adel])
    turn = np.concatenate([turn_of_insert, turn_upd, turn_del, turn_adel])
    op = np.concatenate(
        [
            np.full(n_ins, "I"),
            np.full(n_upd, "U"),
            np.full(n_del, "D"),
            np.full(n_adel, "D"),
        ]
    )
    n = conv.size

    # Global order: inserts keep a stable base order; updates/deletes land at
    # uniformly random positions in the tail 80% so most mutations follow the
    # insert they touch (realistic WAL shape). Correctness never depends on
    # this placement — the oracle replays whatever order lsn defines.
    prio = np.empty(n, dtype=np.float64)
    prio[:n_ins] = np.linspace(0.0, 1.0, n_ins, endpoint=False)
    prio[n_ins:] = 0.2 + 0.8 * rng.random(n - n_ins)
    order = np.argsort(prio, kind="stable")

    conv, turn, op = conv[order], turn[order], op[order]
    lsn = np.arange(n, dtype=np.int64)

    # String assembly runs in Arrow C++ kernels (binary_join_element_wise is
    # one fused pass) — np.char / object-array concat was the generator's
    # hot spot at bench scale. Output is byte-identical to the original
    # np.char implementation (hash-pinned in tests/test_datagen_fast.py).
    import pyarrow.compute as pc

    conv_id_arr = pc.binary_join_element_wise(
        "conv-",
        pc.utf8_lpad(pc.cast(pa.array(conv), pa.string()), width=8, padding="0"),
        "",
    )
    conv_id = conv_id_arr.to_numpy(zero_copy_only=False)
    role = _ROLES[(conv * 7 + turn) % len(_ROLES)]
    tool_raw = _TOOLS[(conv * 3 + turn * 5) % len(_TOOLS)]
    tool = np.where(tool_raw == "none", None, tool_raw)

    mess_a = pa.array(_MESS[lsn % len(_MESS)])
    mess_b = pa.array(_MESS[(lsn * 7 + 3) % len(_MESS)])
    text_arr = pc.binary_join_element_wise(
        mess_a,
        "turn ",
        pc.cast(pa.array(turn), pa.string()),
        " of ",
        conv_id_arr,
        mess_b,
        " rev",
        pc.cast(pa.array(lsn), pa.string()),
        mess_a,
        "",
    )
    text_arr = pc.if_else(pa.array(op == "D"), pa.nulls(n, pa.string()), text_arr)
    text = text_arr.to_numpy(zero_copy_only=False)

    ts = pd.Timestamp("2025-01-01", tz=None).value + lsn * 1_000_000_000
    # microsecond precision: Spark's parquet reader rejects TIMESTAMP(NANOS).
    # int64-ns → datetime64 is a view + unit cast, not pd.to_datetime's
    # elementwise object path (which cost ~4s at bench scale).
    ts = ts.view("datetime64[ns]").astype("datetime64[us]")

    evo_lsn = int(n * spec.evolution_at)
    model = np.where(lsn >= evo_lsn, _MODELS[lsn % len(_MODELS)], None)
    tokens = np.where(lsn >= evo_lsn, (lsn % 512 + 1).astype(np.int64), np.nan)

    # Pre-built Series skip DataFrame-constructor sanitization (pandas runs
    # datetime-inference over every object column otherwise — ~10s of pure
    # overhead at 2M rows on columns we just built with known dtypes).
    def _s(arr, dtype=None):
        return pd.Series(arr, dtype=dtype, copy=False)

    df = pd.DataFrame(
        {
            "lsn": _s(lsn),
            "op": _s(op, dtype=object),
            "conv_id": _s(conv_id, dtype=object),
            "turn_idx": _s(turn.astype(np.int32)),
            "role": _s(role, dtype=object),
            "text": _s(text, dtype=object),
            "tool": _s(tool, dtype=object),
            "ts": _s(ts),
            "model": _s(model, dtype=object),
            "tokens": _s(
                pd.array(np.where(np.isnan(tokens), None, tokens), dtype="Int32")
            ),
        }
    )
    spec.derived["n_events"] = n
    spec.derived["evolution_lsn"] = evo_lsn
    return df


def write_change_feed(spec: StreamSpec, out_dir: str) -> dict:
    """Write the stream as a parquet directory mimicking a WAL segment store.

    - Files are fixed-size lsn ranges (``part-<lo>-<hi>.parquet``) — the
      analogue of the reference's one-XML-page-per-object raw zone
      (ETL/glue/arxiv_feed.py:69-71).
    - Rows *within* a file are shuffled by out_of_order_fraction: physical
      order is not lsn order, so any consumer that relies on file order
      instead of the lsn column is wrong (the reference silently relies on
      feed order; we make the ordering column explicit).
    - Files with hi < evolution point omit the model/tokens columns entirely
      → readers observe genuine additive schema evolution mid-stream.

    Returns {"n_events", "evolution_lsn", "files"}.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    df = generate_events(spec)
    n = len(df)
    evo = spec.derived["evolution_lsn"]
    rng = np.random.default_rng(spec.seed + 1)
    files = []
    # One pandas→Arrow conversion for the whole stream; per-file chunks are
    # zero-copy slices / takes of it (per-chunk from_pandas was ~40% of the
    # writer's cost at bench scale). Row content is unchanged.
    full = pa.Table.from_pandas(df, preserve_index=False)
    for lo in range(0, n, spec.events_per_file):
        hi = min(lo + spec.events_per_file, n)
        if spec.out_of_order_fraction > 0:
            k = int((hi - lo) * spec.out_of_order_fraction)
            idx = np.arange(hi - lo)
            swap = rng.choice(hi - lo, size=k, replace=False)
            idx[np.sort(swap)] = swap  # permute a subset in place
            tbl = full.take(idx + lo)
        else:
            tbl = full.slice(lo, hi - lo)
        if hi <= evo:
            tbl = tbl.drop_columns(["model", "tokens"])
        path = os.path.join(out_dir, f"part-{lo:012d}-{hi:012d}.parquet")
        pq.write_table(tbl, path)
        files.append(path)
    return {"n_events": n, "evolution_lsn": evo, "files": files}


def normalize_text_py(s: str | None) -> str | None:
    """Pure-Python oracle for the ingest normalizer: NFC, ZWSP removal,
    collapse whitespace, strip. functions/normalize.py must stay
    semantically identical (tests/test_functions.py pins it)."""
    if s is None:
        return None
    s = unicodedata.normalize("NFC", s)
    s = s.replace("​", "")
    s = " ".join(s.split())
    return s


def replay_oracle(df: pd.DataFrame, normalize: bool = True) -> pd.DataFrame:
    """Single-threaded dict replay of the change stream in lsn order.

    The correctness oracle per SURVEY.md §5.2: I/U → upsert full row,
    D → delete; last writer (highest lsn) wins. Returns the final table
    sorted by (conv_id, turn_idx).
    """
    df = df.sort_values("lsn", kind="stable")
    value_cols = [c for c in df.columns if c not in ("lsn", "op")]
    state: dict[tuple, dict] = {}
    for row in df.itertuples(index=False):
        key = (row.conv_id, row.turn_idx)
        if row.op == "D":
            state.pop(key, None)
        else:
            state[key] = {c: getattr(row, c, None) for c in value_cols}
    if not state:
        return pd.DataFrame(columns=value_cols)
    out = pd.DataFrame(list(state.values()))
    if normalize and "text" in out.columns:
        out["text"] = out["text"].map(normalize_text_py)
    return out.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(
        drop=True
    )


def _normalize_series_arrow(s: pd.Series) -> pd.Series:
    """Arrow-compute twin of ``normalize_text_py`` for bench-scale oracles.

    ZWSP removal + whitespace collapse + trim run as Arrow C++ kernels over
    the whole column; NFC falls back to stdlib ``unicodedata`` on the
    non-ASCII values only (pyarrow 16's ``utf8_normalize(form="NFC")``
    returns *decomposed* text, so it can't be used). Operation order is
    EXACTLY normalize_text_py's — NFC, then ZWSP removal, then collapse +
    trim — so the twin is valid for arbitrary feeds, not just the seeded
    generator (an earlier draft ran NFC after collapse, which diverges
    when whitespace removal creates a new base+combining adjacency). The
    one remaining spelled-out equivalence: RE2's ``\\s`` is ASCII-only
    while ``str.split()`` splits on Unicode whitespace, so the collapse
    class enumerates Python's whitespace set explicitly (character-class
    equality, not an ordering assumption).
    """
    import pyarrow.compute as pc

    a = pa.array(s, type=pa.string())
    vals = a.to_numpy(zero_copy_only=False)
    out = np.empty(len(vals), dtype=object)
    for i, t in enumerate(vals):
        if t is None:
            out[i] = None
        elif t.isascii():  # NFC is the identity on ASCII
            out[i] = t
        else:
            out[i] = unicodedata.normalize("NFC", t)
    # Python str.split() whitespace, spelled for RE2: ASCII \\s (which in
    # RE2 lacks vertical tab — added explicitly), the C0 separators, NEL,
    # NBSP, and the Unicode space blocks.
    ws = (
        r"[\s\x0b\x1c-\x1f\x85\xa0\x{1680}\x{2000}-\x{200a}"
        r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+"
    )
    a = pa.array(out, type=pa.string())
    a = pc.replace_substring(a, pattern="​", replacement="")
    a = pc.replace_substring_regex(a, pattern=ws, replacement=" ")
    a = pc.utf8_trim_whitespace(a)
    return pd.Series(
        a.to_numpy(zero_copy_only=False), index=s.index, dtype=object
    )


def replay_oracle_fast(df: pd.DataFrame, normalize: bool = True) -> pd.DataFrame:
    """Vectorized replay oracle for bench-scale streams (10^6+ events).

    Under last-writer-wins, each key's final state depends ONLY on its
    highest-lsn event: D → absent, I/U → that row's values — so the dict
    replay collapses to sort + drop_duplicates(keep="last") + a tombstone
    filter. ~20× faster than ``replay_oracle``; tests/test_datagen_fast.py
    asserts frame-equality between the two on seeded streams (including
    delete-then-reinsert resurrection and absent-key deletes), so the bench
    can use this twin while the deliberately-naive dict replay remains the
    ground truth the equivalence chain is anchored to.
    """
    df = df.sort_values("lsn", kind="stable")
    last = df.drop_duplicates(subset=["conv_id", "turn_idx"], keep="last")
    out = last[last["op"] != "D"].drop(columns=["lsn", "op"])
    out = out.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(
        drop=True
    )
    if normalize and "text" in out.columns and len(out):
        out["text"] = _normalize_series_arrow(out["text"])
    return out
