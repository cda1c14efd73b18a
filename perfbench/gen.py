"""Seeded input generators for the perfbench workloads, plus the key->row
model each oracle checks against.

Every table has the sysbench shape ``(id BIGINT PK, k BIGINT, c CHAR(120),
pad CHAR(60))``. ``c`` and ``pad`` are digit groups derived from a
splitmix64 hash of ``(seed, id, version)``, so a row is fully described by
``(id, k, version)`` and the model never stores strings. The same hash is
implemented twice — vectorized (numpy, for whole tables) and scalar (Python
ints, for single change events) — and the two must agree byte for byte.

A table's digest is ``(row count, sum of crc32("id|k|c|pad"))``: it is
order-independent, so the oracle can compute the target side from the
written files in any order while the generator keeps the expected value up
to date event by event.

Change events are written with the repository's own binlog writer
(``binlog_file.write_binlog_files``). Each generator returns a JSON-able
manifest with the expected digests; nothing here imports Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

M64 = (1 << 64) - 1
_GOLD = 0x9E3779B97F4A7C15
_MUL1 = 0xBF58476D1CE4E5B9
_MUL2 = 0x94D049BB133111EB
_ID_MUL = 0xD6E8FEB86659FD93
_VER_MUL = 0xA0761D6478BD642F
_C_GROUPS = range(0, 10)  # 10 x 11 digits + 9 dashes = 119 chars
_PAD_GROUPS = range(10, 15)  # 5 x 11 digits + 4 dashes = 59 chars
_POW10 = np.array([10 ** i for i in range(10, -1, -1)], dtype=np.uint64)
_GROUP_MOD = 10 ** 11

SCHEMA = "sbtest"
ROW_SCHEMA = pa.schema(
    [("id", pa.int64()), ("k", pa.int64()), ("c", pa.string()), ("pad", pa.string())]
)

# Scale per workload, sized so that a 20 s run on a 4-core host completes
# several closed-loop operations (about 4 passes, or 9 batches). The bulk
# chain holds the warm-up batches plus twice what a run uses, so a program
# up to twice as fast still fills the run.
SCALES = {
    "migrate_verify": {"tables": 3, "rows": 10_000, "miss": 300, "diff": 300, "extra": 200},
    "cdc_binlog_bulk": {"rows": 100_000, "batches": 20, "events": 3_000},
}

# -- row content --------------------------------------------------------------


def _mix(x: int) -> int:
    x = ((x ^ (x >> 30)) * _MUL1) & M64
    x = ((x ^ (x >> 27)) * _MUL2) & M64
    return x ^ (x >> 31)


def _mix_np(x: np.ndarray) -> np.ndarray:
    x = (x ^ (x >> np.uint64(30))) * np.uint64(_MUL1)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(_MUL2)
    return x ^ (x >> np.uint64(31))


def _base(seed: int, row_id: int, ver: int) -> int:
    return (seed * _GOLD + row_id * _ID_MUL + ver * _VER_MUL) & M64


def _groups(seed: int, row_id: int, ver: int, groups: range) -> str:
    b = _base(seed, row_id, ver)
    return "-".join(
        f"{_mix((b + g * _GOLD) & M64) % _GROUP_MOD:011d}" for g in groups
    )


def row_c(seed: int, row_id: int, ver: int) -> str:
    return _groups(seed, row_id, ver, _C_GROUPS)


def row_pad(seed: int, row_id: int) -> str:
    return _groups(seed, row_id, 0, _PAD_GROUPS)


def _groups_np(seed: int, ids: np.ndarray, vers: np.ndarray, groups: range) -> pa.Array:
    with np.errstate(over="ignore"):
        b = (
            ids.astype(np.uint64) * np.uint64(_ID_MUL)
            + vers.astype(np.uint64) * np.uint64(_VER_MUL)
            + np.uint64((seed * _GOLD) & M64)
        )
        parts = []
        for g in groups:
            h = _mix_np(b + np.uint64((g * _GOLD) & M64)) % np.uint64(_GROUP_MOD)
            parts.append(((h[:, None] // _POW10) % np.uint64(10) + np.uint64(48)).astype(np.uint8))
            parts.append(np.full((len(ids), 1), ord("-"), dtype=np.uint8))
    mat = np.ascontiguousarray(np.concatenate(parts[:-1], axis=1))
    return pa.array(mat.view(f"S{mat.shape[1]}").ravel(), type=pa.binary()).cast(pa.string())


def rows_table(seed: int, ids: np.ndarray, ks: np.ndarray, vers: np.ndarray) -> pa.Table:
    """Arrow table of sysbench rows for the given (id, k, version) columns."""
    return pa.table(
        [
            pa.array(ids, pa.int64()),
            pa.array(ks, pa.int64()),
            _groups_np(seed, ids, vers, _C_GROUPS),
            _groups_np(seed, ids, np.zeros_like(ids), _PAD_GROUPS),
        ],
        schema=ROW_SCHEMA,
    )


def row_crc(row_id: int, k: int, c: str, pad: str) -> int:
    return zlib.crc32(f"{row_id}|{k}|{c}|{pad}".encode())


def table_digest(t: pa.Table) -> list[int]:
    """[count, crc sum] of an Arrow table with the sysbench columns."""
    cols = [t.column(n).to_pylist() for n in ("id", "k", "c", "pad")]
    return [t.num_rows, sum(row_crc(*r) for r in zip(*cols))]


# -- file helpers -------------------------------------------------------------


def _write_parquet(t: pa.Table, path: str) -> None:
    """One parquet file inside ``path`` (a directory, as Spark writes)."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(t, os.path.join(path, "part-00000.parquet"))


def tree_sha256(root: str) -> str:
    """Digest of every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for f in sorted(filenames):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# -- migrate_verify -----------------------------------------------------------


def _take_ids(t: pa.Table, ids: np.ndarray) -> pa.Table:
    mask = np.isin(t.column("id").to_numpy(), ids)
    return t.filter(pa.array(mask))


def gen_migrate_verify(out: str, seed: int, scale: dict) -> dict:
    """Source tables, a replica with planted miss/diff/extra keys, and the
    task settings (one where-filter, one route rename) with their expected
    results."""
    rng = np.random.default_rng(seed)
    n = scale["rows"]
    src_dir, replica_dir = os.path.join(out, "source"), os.path.join(out, "replica")
    tables = [f"sbtest{i + 1}" for i in range(scale["tables"])]
    k_min = n // 10  # where-filter on the first table drops ~10% of rows
    where = {tables[0]: f"k >= {k_min}"}
    route = {tables[1]: f"{tables[1]}_copy"}
    revise = [tables[0]]  # revise is per table; one exercises the path
    expect: dict = {"snapshot": {}, "check": {}, "revise": {}}
    for ti, tb in enumerate(tables):
        tseed = seed * 1000 + ti
        ids = np.arange(1, n + 1, dtype=np.int64)
        ks = rng.integers(1, n + 1, size=n, dtype=np.int64)
        src = rows_table(tseed, ids, ks, np.zeros(n, dtype=np.int64))
        _write_parquet(src, os.path.join(src_dir, f"{tb}.parquet"))

        snap = src.filter(pa.array(ks >= k_min)) if tb in where else src
        expect["snapshot"][route.get(tb, tb)] = table_digest(snap)

        picked = rng.choice(ids, size=scale["miss"] + scale["diff"], replace=False)
        miss, diff = np.sort(picked[: scale["miss"]]), np.sort(picked[scale["miss"]:])
        extra = np.arange(n + 1, n + 1 + scale["extra"], dtype=np.int64)
        keep = ~np.isin(ids, picked)
        changed = rows_table(tseed, diff, ks[diff - 1], np.ones(len(diff), dtype=np.int64))
        added = rows_table(tseed, extra, rng.integers(1, n + 1, size=len(extra)),
                           np.zeros(len(extra), dtype=np.int64))
        replica = pa.concat_tables([src.filter(pa.array(keep)), changed, added])
        _write_parquet(replica, os.path.join(replica_dir, f"{tb}.parquet"))

        expect["check"][tb] = {
            "miss": miss.tolist(), "diff": diff.tolist(), "extra": extra.tolist(),
        }
        if tb in revise:
            expect["revise"][tb] = table_digest(_take_ids(src, picked))
    return {
        "workload": "migrate_verify",
        "seed": seed,
        "scale": scale,
        "schema": SCHEMA,
        "source": src_dir,
        "replica": replica_dir,
        "tables": tables,
        "where": where,
        "route": route,
        "revise": revise,
        "source_rows": n * len(tables),
        "expect": expect,
    }


# -- change-event model of the CDC workload -----------------------------------


class _TableModel:
    """Key -> (k, version) state of one table with its running digest."""

    def __init__(self, seed: int, n: int, rng: np.random.Generator):
        self.seed = seed
        self.k = {i: int(v) for i, v in zip(range(1, n + 1), rng.integers(1, n + 1, size=n))}
        self.ver: dict[int, int] = {}
        self.next_id = n + 1
        self.alive = list(range(1, n + 1))  # may hold deleted ids; see pick_alive
        self.count = n
        self.digest = 0
        self._pad: dict[int, str] = {}
        self._c: dict[int, str] = {}

    def initial_table(self) -> pa.Table:
        ids = np.fromiter(self.k.keys(), dtype=np.int64, count=len(self.k))
        ks = np.fromiter(self.k.values(), dtype=np.int64, count=len(self.k))
        t = rows_table(self.seed, ids, ks, np.zeros(len(ids), dtype=np.int64))
        self.count, self.digest = table_digest(t)
        return t

    def row(self, row_id: int) -> dict:
        c = self._c.get(row_id)
        if c is None:
            c = self._c[row_id] = row_c(self.seed, row_id, self.ver.get(row_id, 0))
            self._pad[row_id] = row_pad(self.seed, row_id)
        return {"id": row_id, "k": self.k[row_id], "c": c, "pad": self._pad[row_id]}

    def _crc(self, r: dict) -> int:
        return row_crc(r["id"], r["k"], r["c"], r["pad"])

    def insert(self, k: int) -> tuple:
        row_id = self.next_id
        self.next_id += 1
        self.k[row_id] = k
        after = self.row(row_id)
        self.alive.append(row_id)
        self.count += 1
        self.digest += self._crc(after)
        return "insert", None, after

    def update(self, row_id: int, new_c: bool) -> tuple:
        before = self.row(row_id)
        self.k[row_id] += 1
        if new_c:
            self.ver[row_id] = self.ver.get(row_id, 0) + 1
            del self._c[row_id]
        after = self.row(row_id)
        self.digest += self._crc(after) - self._crc(before)
        return "update", before, after

    def delete(self, row_id: int) -> tuple:
        before = self.row(row_id)
        del self.k[row_id]
        self.count -= 1
        self.digest -= self._crc(before)
        return "delete", before, None

    def pick_alive(self, rng: np.random.Generator, size: int, exclude: set) -> list[int]:
        out: list[int] = []
        while len(out) < size:
            for i in rng.integers(0, len(self.alive), size=2 * (size - len(out))):
                rid = self.alive[i]
                if rid in self.k and rid not in exclude:
                    exclude.add(rid)
                    out.append(rid)
                    if len(out) == size:
                        break
        return out


def _batch_events(model: _TableModel, rng: np.random.Generator, n_events: int) -> tuple[list, int]:
    """One batch of oltp_update_index-shaped changes: updates on a skewed
    set of hot keys (about 4 events per key), plus ~2% inserts and ~2%
    deletes of other keys. Returns ([(row_type, before, after)], keys touched)."""
    n_ins = max(1, n_events // 50)
    n_del = max(1, n_events // 50)
    n_upd = n_events - n_ins - n_del
    touched: set = set()
    hot = model.pick_alive(rng, max(1, n_upd // 4), touched)
    victims = model.pick_alive(rng, n_del, touched)
    weights = 1.0 / np.arange(1, len(hot) + 1) ** 0.7
    upd_keys = rng.choice(len(hot), size=n_upd, p=weights / weights.sum())
    new_c = rng.random(n_upd) < 0.25
    kinds = np.array(["u"] * n_upd + ["i"] * n_ins + ["d"] * n_del)
    rng.shuffle(kinds)
    ins_k = rng.integers(1, model.count + 1, size=n_ins)
    out = []
    ui = ii = di = 0
    for kind in kinds:
        if kind == "u":
            out.append(model.update(hot[upd_keys[ui]], bool(new_c[ui])))
            ui += 1
        elif kind == "i":
            out.append(model.insert(int(ins_k[ii])))
            ii += 1
        else:
            out.append(model.delete(victims[di]))
            di += 1
    n_keys = len({(b or a)["id"] for _, b, a in out})
    return out, n_keys


# -- cdc_binlog_bulk ----------------------------------------------------------


def binlog_table(tb: str, table_id: int):
    from ape_dts_spark.sources import binlog_file as bf

    return bf.BinlogTable(
        SCHEMA, tb,
        (("id", bf.MYSQL_TYPE_LONGLONG, 0), ("k", bf.MYSQL_TYPE_LONGLONG, 0),
         ("c", bf.MYSQL_TYPE_VARCHAR, 120), ("pad", bf.MYSQL_TYPE_VARCHAR, 60)),
        table_id=table_id,
    )


def gen_cdc_binlog_bulk(out: str, seed: int, scale: dict) -> dict:
    """Preload table + a binlog rotation chain of one-row transactions.
    Each batch is two consecutive files of the chain, in a directory of its
    own: a plain one, then a zstd TRANSACTION_PAYLOAD one, so every batch
    decodes both event layouts."""
    from ape_dts_spark.sources.binlog_file import write_binlog_files

    rng = np.random.default_rng(seed)
    tb = "sbtest1"
    model = _TableModel(seed, scale["rows"], rng)
    initial = os.path.join(out, "initial")
    _write_parquet(model.initial_table(), initial)
    preload = [model.count, model.digest]
    tables = {(SCHEMA, tb): binlog_table(tb, 101)}
    txns, after_batch = [], []
    for _ in range(scale["batches"]):
        events, n_keys = _batch_events(model, rng, scale["events"])
        txns.extend([[((SCHEMA, tb), rt, b, a)] for rt, b, a in events])
        after_batch.append({"n_events": len(events), "n_keys": n_keys,
                            "digest": [model.count, model.digest]})
    chain = os.path.join(out, "binlog")
    os.makedirs(chain, exist_ok=True)
    paths = write_binlog_files(
        txns, tables, chain, per_file=scale["events"] // 2,
        payload_wrap_files={i: "zstd" for i in range(1, 2 * scale["batches"], 2)},
    )
    batches = []
    for b in range(scale["batches"]):
        d = os.path.join(out, "batches", f"{b:04d}")
        os.makedirs(d)
        for p in paths[2 * b : 2 * b + 2]:
            os.replace(p, os.path.join(d, os.path.basename(p)))
        batches.append(d)
    os.rmdir(chain)
    return {
        "workload": "cdc_binlog_bulk",
        "seed": seed,
        "scale": scale,
        "schema": SCHEMA,
        "tb": tb,
        "initial": initial,
        "preload": preload,
        "batches": batches,
        "after_batch": after_batch,
    }


GENERATORS = {
    "migrate_verify": gen_migrate_verify,
    "cdc_binlog_bulk": gen_cdc_binlog_bulk,
}


def generate(workload: str, seed: int, scale: dict, out: str) -> dict:
    """Generate into ``out`` (created) and write ``manifest.json`` there."""
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](out, seed, scale)
    manifest["input_sha256"] = tree_sha256(out)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
