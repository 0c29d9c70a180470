"""Seeded inputs for the perfbench workloads.

Inputs are drawn with numpy from ``--seed`` and written as parquet with
pyarrow, outside Spark, so that set-up does not depend on the engine under
test. The transcript rows use ``ngxspark.gen``'s vocabularies and line
layout. Each row gets a class label, and the sink it must be routed to is
derived from the generator's own choices (the class and the status it
picked), never from ``ngxspark.parse``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ngxspark.gen import EPOCH_2024, PATHS, ROLES, STATUSES, TOOLS, UAS
from ngxspark.route import SINKS

# Per-mille class mixes. "quoted" UAs carry \" and \\ (kept on the JVM
# tier); "hex" UAs carry \xHH escapes (the Arrow unescape tail); junk lines
# miss the regex and bad-status lines fail the typed cast, so both are
# rejected by the parse, in the Arrow tail.
TX_MIXES = {
    "tx_agg": (("clean", 935), ("quoted", 30), ("junk", 20), ("bad_status", 15)),
    "tx_dirty_sinks": (
        ("clean", 535), ("hex", 400), ("quoted", 30), ("junk", 20), ("bad_status", 15),
    ),
}
TAIL_LABELS = ("hex", "junk", "bad_status")
REJECT_LABELS = ("junk", "bad_status")

# status century → sink, as route.route assigns it from the status class
_CENTURY_SINK = {2: "ok", 3: "redirect", 4: "client_error", 5: "server_error"}

# The documents corpus mirrors the testdata documents table: words drawn
# uniformly from a 30-word vocabulary, 10 to 100 words a document.
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
    "a", "scan", "batch",
]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def _write(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:04d}.parquet"))


def digest(table: pa.Table) -> str:
    """sha256 of the table's Arrow IPC bytes: equal tables, equal digests."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def transcripts(n_rows: int, seed: int, mix: tuple) -> tuple[pa.Table, dict]:
    """The transcript table (conv_id, turn_idx, role, text, tool, ts) and
    its label counts ``{"rows", "sinks", "labels"}``."""
    rng = np.random.default_rng([seed, 1])
    names = [name for name, _ in mix]
    bounds = np.cumsum([share for _, share in mix])
    if bounds[-1] != 1000:
        raise ValueError(f"class mix must sum to 1000 per mille, got {bounds[-1]}")
    label = np.searchsorted(bounds, rng.integers(0, 1000, n_rows), side="right")
    status = np.asarray(STATUSES)[rng.integers(0, len(STATUSES), n_rows)]
    # Zipf-ish conversations (u^3), as in ngxspark.gen: a few hot conv_ids
    n_convs = max(n_rows // 40, 1)
    conv = np.floor(n_convs * rng.random(n_rows) ** 3).astype(np.int64)
    rid = np.arange(n_rows, dtype=np.int64)
    ts = EPOCH_2024 + rid * 3 + rng.integers(0, 3, n_rows)
    cols = {k: rng.integers(0, hi, n_rows) for k, hi in (
        ("role", len(ROLES)), ("tool", len(TOOLS)), ("ua", len(UAS)), ("path", len(PATHS)),
        ("ip1", 256), ("ip2", 256), ("ip3", 254), ("anon", 4), ("user", 2000), ("q", 1000),
        ("bytes", 100000), ("ref", 3), ("refn", 50), ("uav", 9), ("junk", 100000),
    )}

    kind = [names[i] for i in label]
    lines = []
    for i in range(n_rows):
        k = kind[i]
        if k == "junk":
            lines.append(f"!corrupt!{cols['junk'][i]} << truncated")
            continue
        if k == "quoted":
            ua = f'Agent \\"v{cols["uav"][i]}\\" \\\\build'
        elif k == "hex":
            # nginx escape=default writes ", \ and control bytes as \xHH
            ua = f"Agent \\x22v{cols['uav'][i]}\\x22 \\x1B[0m \\x5Cbuild\\x7F"
        else:
            ua = UAS[cols["ua"][i]]
        when = dt.datetime.fromtimestamp(int(ts[i]), dt.timezone.utc)
        user = "-" if cols["anon"][i] == 0 else "u%04d" % cols["user"][i]
        ref = "-" if cols["ref"][i] == 0 else "https://ref.example/%d" % cols["refn"][i]
        lines.append(
            '10.%d.%d.%d - %s [%s +0000] "GET %s?q=%d HTTP/1.1" %s %d "%s" "%s"' % (
                cols["ip1"][i], cols["ip2"][i], cols["ip3"][i] + 1, user,
                when.strftime("%d/%b/%Y:%H:%M:%S"), PATHS[cols["path"][i]], cols["q"][i],
                "abc" if k == "bad_status" else status[i], cols["bytes"][i], ref, ua,
            )
        )

    turn_idx = pd.Series(conv).groupby(conv).cumcount().to_numpy()
    table = pa.table({
        "conv_id": [f"conv-{c:06d}" for c in conv],
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(np.asarray(ROLES)[cols["role"]]),
        "text": lines,
        "tool": pa.array(np.asarray(TOOLS)[cols["tool"]]),
        "ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
    })

    reject = np.isin(label, [names.index(x) for x in REJECT_LABELS if x in names])
    sink = np.where(reject, "reject", np.vectorize(lambda s: _CENTURY_SINK[s // 100])(status))
    expected = {
        "rows": n_rows,
        "sinks": {s: int((sink == s).sum()) for s in SINKS},
        "labels": {x: int((label == i).sum()) for i, x in enumerate(names)},
    }
    return table, expected


def write_transcripts(path: str, n_rows: int, seed: int, mix: tuple, n_files: int) -> dict:
    table, expected = transcripts(n_rows, seed, mix)
    _write(table, path, n_files)
    return expected


def documents(n_base: int, n_exact: int, n_near: int, seed: int) -> pa.Table:
    """Documents with planted copies, laid out by id range:
    ``[0, n_base)`` base documents, then ``n_exact`` exact copies of base
    documents, then ``n_near`` copies with one word replaced (about 0.9
    shingle Jaccard, above the 0.5 verification threshold)."""
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(10, 101, n_base)
    words = np.split(rng.integers(0, len(VOCAB), int(lens.sum())), np.cumsum(lens)[:-1])
    orig = rng.integers(0, n_base, n_exact + n_near)
    pos = rng.random(n_near)
    shift = rng.integers(1, len(VOCAB), n_near)
    docs = list(words)
    for j, o in enumerate(orig):
        w = words[o]
        if j >= n_exact:
            k = j - n_exact
            w = w.copy()
            p = int(pos[k] * len(w))
            w[p] = (w[p] + shift[k]) % len(VOCAB)
        docs.append(w)
    vocab = np.asarray(VOCAB)
    text = [" ".join(vocab[w]) for w in docs]
    n = len(docs)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": pa.array(np.asarray(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def write_documents(path: str, n_base: int, n_exact: int, n_near: int, seed: int, n_files: int) -> None:
    _write(documents(n_base, n_exact, n_near, seed), path, n_files)
