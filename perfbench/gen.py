"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its ``seed`` and size arguments:
the same arguments give byte-identical tables.  The engine only ever
sees the parquet files these functions write, never the seed.

Changelogs use the engine's full-retraction form: ``+I`` inserts, an
update as a ``-U`` before-image and a ``+U`` after-image sharing one
``_seq``, and ``-D`` deletes carrying the deleted image.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _zipf_keys(rng: np.random.Generator, n_keys: int, n: int, skew: float) -> np.ndarray:
    """``n`` draws over ``[0, n_keys)`` with P(rank r) ~ 1 / r**skew; the
    rank-to-key map is a seeded permutation so hot keys are spread over
    the key range (and therefore over snapshot chunks)."""
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = ranks ** -skew
    p /= p.sum()
    hot = rng.permutation(n_keys)
    return hot[rng.choice(n_keys, size=n, p=p)]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=1 << 20)


@dataclass(frozen=True)
class KeyedLogSpec:
    """Keyed table changelog: ``n_keys`` inserts, then ``n_changes``
    Zipf-skewed changes.  A change on a live key is an update with
    probability ``1 - p_delete`` and a delete otherwise; a change on a
    deleted key re-inserts it."""

    n_keys: int
    n_changes: int
    skew: float = 1.1
    p_delete: float = 0.2
    n_groups: int = 64


def keyed_log(seed: int, spec: KeyedLogSpec, path: str) -> dict:
    """Write the keyed full-retraction log ``(id, g, v, _op, _seq)`` and
    return its shape: row count, insert/change seq boundary, live keys
    at the end."""
    rng = np.random.default_rng(seed)
    n = spec.n_keys
    ids = rng.permutation(n).astype(np.int64)
    g0 = rng.integers(0, spec.n_groups, n)
    v0 = rng.integers(0, 1_000_000, n)
    targets = _zipf_keys(rng, n, spec.n_changes, spec.skew)
    is_del = rng.random(spec.n_changes) < spec.p_delete
    new_g = rng.integers(0, spec.n_groups, spec.n_changes)
    new_v = rng.integers(0, 1_000_000, spec.n_changes)

    cur_g = np.empty(n, np.int64)
    cur_v = np.empty(n, np.int64)
    cur_g[ids] = g0
    cur_v[ids] = v0
    alive = np.ones(n, bool)
    out_id = list(ids)
    out_g = list(g0)
    out_v = list(v0)
    out_op = ["+I"] * n
    out_seq = list(range(1, n + 1))
    seq = n
    for k, d, ng, nv in zip(targets.tolist(), is_del.tolist(),
                            new_g.tolist(), new_v.tolist()):
        seq += 1
        if not alive[k]:
            alive[k] = True
            cur_g[k], cur_v[k] = ng, nv
            out_id.append(k); out_g.append(ng); out_v.append(nv)
            out_op.append("+I"); out_seq.append(seq)
        elif d:
            alive[k] = False
            out_id.append(k); out_g.append(cur_g[k]); out_v.append(cur_v[k])
            out_op.append("-D"); out_seq.append(seq)
        else:
            out_id += [k, k]
            out_g += [cur_g[k], ng]
            out_v += [cur_v[k], nv]
            out_op += ["-U", "+U"]
            out_seq += [seq, seq]
            cur_g[k], cur_v[k] = ng, nv
    table = pa.table({
        "id": pa.array(out_id, pa.int64()),
        "g": pa.array(out_g, pa.int64()),
        "v": pa.array(out_v, pa.int64()),
        "_op": pa.array(out_op, pa.string()),
        "_seq": pa.array(out_seq, pa.int64()),
    })
    _write(table, path)
    return {
        "rows": table.num_rows,
        "insert_seq_max": n,
        "seq_max": seq,
        "live_keys": int(alive.sum()),
    }


@dataclass(frozen=True)
class FactDimSpec:
    """Fact table ``fact(id, dk, g, v)`` joined to ``dim(dk, attr)``.
    The initial images are a snapshot; the change stream interleaves
    fact changes (Zipf over fact ids) with dimension updates in one
    global ``_seq`` order, like a multi-table binlog topic.  A fact
    update moves the row to another dimension key with probability
    ``p_move``."""

    n_fact: int
    n_dim: int
    n_changes: int
    dim_share: float = 0.1
    skew: float = 1.1
    p_delete: float = 0.1
    p_move: float = 0.3
    n_groups: int = 256


FACT_DIM_COLS = ("_tbl", "id", "dk", "g", "v", "attr", "_op", "_seq")


def fact_dim_logs(seed: int, spec: FactDimSpec, init_path: str, changes_path: str) -> dict:
    """Write the initial snapshot and the change stream, both with the
    combined schema ``FACT_DIM_COLS``; ``_tbl`` is ``'f'`` or ``'d'``
    and the other table's columns are NULL."""
    rng = np.random.default_rng(seed)
    nf, nd = spec.n_fact, spec.n_dim
    f_dk = rng.integers(0, nd, nf)
    f_g = rng.integers(0, spec.n_groups, nf)
    f_v = rng.integers(0, 100_000, nf)
    d_attr = rng.integers(0, 1000, nd)
    f_alive = np.ones(nf, bool)

    rows: dict[str, list] = {c: [] for c in FACT_DIM_COLS}

    def emit(tbl, id_, dk, g, v, attr, op, seq):
        rows["_tbl"].append(tbl); rows["id"].append(id_)
        rows["dk"].append(dk); rows["g"].append(g); rows["v"].append(v)
        rows["attr"].append(attr); rows["_op"].append(op)
        rows["_seq"].append(seq)

    seq = 0
    for k in range(nd):
        seq += 1
        emit("d", None, k, None, None, int(d_attr[k]), "+I", seq)
    for k in range(nf):
        seq += 1
        emit("f", k, int(f_dk[k]), int(f_g[k]), int(f_v[k]), None, "+I", seq)
    init = _to_fact_dim_table(rows)
    _write(init, init_path)
    init_seq_max = seq

    rows = {c: [] for c in FACT_DIM_COLS}
    is_dim = rng.random(spec.n_changes) < spec.dim_share
    f_tgt = _zipf_keys(rng, nf, spec.n_changes, spec.skew)
    d_tgt = rng.integers(0, nd, spec.n_changes)
    is_del = rng.random(spec.n_changes) < spec.p_delete
    new_dk = rng.integers(0, nd, spec.n_changes)
    new_g = rng.integers(0, spec.n_groups, spec.n_changes)
    new_v = rng.integers(0, 100_000, spec.n_changes)
    new_attr = rng.integers(0, 1000, spec.n_changes)
    moves = rng.random(spec.n_changes) < spec.p_move
    for i in range(spec.n_changes):
        seq += 1
        if is_dim[i]:
            k = int(d_tgt[i])
            emit("d", None, k, None, None, int(d_attr[k]), "-U", seq)
            d_attr[k] = new_attr[i]
            emit("d", None, k, None, None, int(d_attr[k]), "+U", seq)
            continue
        k = int(f_tgt[i])
        old = (int(f_dk[k]), int(f_g[k]), int(f_v[k]))
        if not f_alive[k]:
            f_alive[k] = True
            f_dk[k], f_g[k], f_v[k] = new_dk[i], new_g[i], new_v[i]
            emit("f", k, int(f_dk[k]), int(f_g[k]), int(f_v[k]), None, "+I", seq)
        elif is_del[i]:
            f_alive[k] = False
            emit("f", k, *old, None, "-D", seq)
        else:
            emit("f", k, *old, None, "-U", seq)
            f_g[k], f_v[k] = new_g[i], new_v[i]
            if moves[i]:
                f_dk[k] = new_dk[i]
            emit("f", k, int(f_dk[k]), int(f_g[k]), int(f_v[k]), None, "+U", seq)
    changes = _to_fact_dim_table(rows)
    _write(changes, changes_path)
    return {
        "init_rows": init.num_rows,
        "change_rows": changes.num_rows,
        "init_seq_max": init_seq_max,
        "seq_max": seq,
    }


def _to_fact_dim_table(rows: dict) -> pa.Table:
    return pa.table({
        "_tbl": pa.array(rows["_tbl"], pa.string()),
        "id": pa.array(rows["id"], pa.int64()),
        "dk": pa.array(rows["dk"], pa.int64()),
        "g": pa.array(rows["g"], pa.int64()),
        "v": pa.array(rows["v"], pa.int64()),
        "attr": pa.array(rows["attr"], pa.int64()),
        "_op": pa.array(rows["_op"], pa.string()),
        "_seq": pa.array(rows["_seq"], pa.int64()),
    })


@dataclass(frozen=True)
class ClickStreamSpec:
    """Append-only funnel click stream over ``n_users`` keys.  Each
    user's events are sessions of ``view``, a run of ``click``s and
    usually a ``purchase``, with ``other`` noise between sessions; the
    four event types keep the MATCH_RECOGNIZE defines mutually
    exclusive.  Some sessions straddle more than a day."""

    n_users: int
    n_events: int
    p_purchase: float = 0.6
    p_slow_session: float = 0.15


CLICK_TYPES = ("view", "click", "purchase", "other")


def click_stream(seed: int, spec: ClickStreamSpec, path: str) -> dict:
    """Write ``events(event_id, user_id, event_type, value, ts)`` with
    ``event_id`` increasing in global ``ts`` order (ties broken by a
    seeded permutation), so ``event_id`` ranges are arrival batches."""
    rng = np.random.default_rng(seed)
    per_user = rng.multinomial(spec.n_events, np.full(spec.n_users, 1 / spec.n_users))
    users, types, ts = [], [], []
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    hour = 3_600_000_000
    for u, cnt in enumerate(per_user.tolist()):
        t = t0 + int(rng.integers(0, 24 * hour))
        k = 0
        while k < cnt:
            slow = rng.random() < spec.p_slow_session
            step = 6 * hour if slow else hour // 6
            seq = ["view"] + ["click"] * int(rng.integers(1, 5))
            if rng.random() < spec.p_purchase:
                seq.append("purchase")
            seq.append("other")
            for et in seq[: cnt - k]:
                t += int(rng.integers(1, step))
                users.append(u); types.append(et); ts.append(t)
                k += 1
    order = np.lexsort((rng.permutation(len(ts)), np.asarray(ts)))
    users = np.asarray(users, np.int64)[order]
    types_arr = np.asarray(types)[order]
    ts_arr = np.asarray(ts, np.int64)[order]
    values = np.round(rng.random(len(ts)) * 1000, 2)
    table = pa.table({
        "event_id": pa.array(np.arange(len(ts), dtype=np.int64)),
        "user_id": pa.array(users),
        "event_type": pa.array(types_arr.tolist(), pa.string()),
        "value": pa.array(values, pa.float64()),
        "ts": pa.array(ts_arr, pa.timestamp("us", tz="UTC")),
    })
    _write(table, path)
    return {"rows": table.num_rows, "users": spec.n_users}
