"""Seeded Febrl-style inputs for the benchmark workloads.

Records are person profiles: 12 attributes concatenated into ``val``
in the reference's order, 60% originals and 40% perturbed duplicates
of a random original, ids shuffled. The attribute pools, the Zipf
skew and the perturbation model are those of ``tools/gen_refscale.py``,
imported here so both generators stay one model.

Every table is a pure function of ``(seed, workload, size)``. The
generator writes parquet files and returns their paths and shape
statistics; the program under test only ever sees those files.
"""

from __future__ import annotations

import importlib.util
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def load_refscale(root: str):
    """Import ``tools/gen_refscale.py`` from the checkout at ``root``."""
    path = os.path.join(root, "tools", "gen_refscale.py")
    spec = importlib.util.spec_from_file_location("_perfbench_refscale", path)
    if spec is None or not os.path.isfile(path):
        raise FileNotFoundError(path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(tag.encode())])


def _profiles(ref, rng: np.random.Generator, n_total: int):
    """``n_total`` records as ``(vals, group, originals)``: ``group[i]``
    is the index in ``originals`` of the profile record ``i`` derives
    from."""
    n_dup = int(n_total * ref.DUP_FRAC)
    n_orig = n_total - n_dup
    originals = ref._make_originals(rng, n_orig)
    owner = rng.integers(0, n_orig, n_dup)
    records = list(originals) + [
        ref._perturb(rng, originals[int(o)]) for o in owner
    ]
    group = list(range(n_orig)) + [int(o) for o in owner]
    return [ref._concat_val(r) for r in records], group, originals


def _pairs_within(groups: dict[int, list[int]]) -> tuple[list[int], list[int]]:
    gl, gr = [], []
    for members in groups.values():
        members = sorted(members)
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                gl.append(a)
                gr.append(b)
    return gl, gr


def _write(path: str, cols: dict[str, list], types: dict[str, pa.DataType]) -> None:
    pq.write_table(
        pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()}),
        path,
    )


def _ws_tokens(vals: list[str]) -> float:
    return float(np.mean([len(set(v.lower().split())) for v in vals]))


def write_dedup(ref, seed: int, workload: str, n: int, out_dir: str) -> dict:
    """One corpus ``corpus.parquet(id, val)`` plus its ground truth
    ``gt.parquet(l_id, r_id)`` (all same-profile pairs, l_id < r_id)."""
    rng = _rng(seed, workload)
    vals, group, _ = _profiles(ref, rng, n)
    ids = rng.permutation(n).astype(np.int64)
    groups: dict[int, list[int]] = {}
    for i, g in enumerate(group):
        groups.setdefault(g, []).append(int(ids[i]))
    gl, gr = _pairs_within(groups)
    os.makedirs(out_dir, exist_ok=True)
    corpus = os.path.join(out_dir, "corpus.parquet")
    gt = os.path.join(out_dir, "gt.parquet")
    _write(corpus, {"id": ids.tolist(), "val": vals},
           {"id": pa.int64(), "val": pa.string()})
    _write(gt, {"l_id": gl, "r_id": gr},
           {"l_id": pa.int64(), "r_id": pa.int64()})
    return {
        "paths": {"corpus": corpus, "gt": gt},
        "stats": {"rows": n, "gt_pairs": len(gl),
                  "tokens_per_record": round(_ws_tokens(vals), 2)},
    }


def write_link(ref, seed: int, n_master: int, n_batches: int,
               batch_size: int, fresh_frac: float, out_dir: str) -> dict:
    """A master table ``master.parquet(id, val)`` and ``n_batches``
    arriving batches ``batch_<k>.parquet(id, val)`` with ground truth
    ``gt_<k>.parquet(l_id, r_id)`` (l_id = batch record, r_id = every
    master record of the same profile).

    Master ids are ``0 .. n_master-1``; batch ids start above them, so
    the two id spaces never collide. A batch is ``fresh_frac`` new
    profiles and otherwise perturbed duplicates of master originals.
    """
    rng = _rng(seed, "link_batches")
    vals, group, originals = _profiles(ref, rng, n_master)
    ids = rng.permutation(n_master).astype(np.int64)
    members: dict[int, list[int]] = {}
    for i, g in enumerate(group):
        members.setdefault(g, []).append(int(ids[i]))
    os.makedirs(out_dir, exist_ok=True)
    master = os.path.join(out_dir, "master.parquet")
    _write(master, {"id": ids.tolist(), "val": vals},
           {"id": pa.int64(), "val": pa.string()})

    batches, gts, gt_pairs, batch_vals = [], [], 0, []
    next_id = n_master
    n_fresh = int(round(batch_size * fresh_frac))
    for k in range(n_batches):
        fresh = ref._make_originals(rng, n_fresh)
        owners = rng.integers(0, len(originals), batch_size - n_fresh)
        recs = fresh + [ref._perturb(rng, originals[int(o)]) for o in owners]
        bvals = [ref._concat_val(r) for r in recs]
        bids = list(range(next_id, next_id + batch_size))
        next_id += batch_size
        gl, gr = [], []
        for j, o in enumerate(owners):
            for m in members[int(o)]:
                gl.append(bids[n_fresh + j])
                gr.append(m)
        bpath = os.path.join(out_dir, f"batch_{k}.parquet")
        gpath = os.path.join(out_dir, f"gt_{k}.parquet")
        _write(bpath, {"id": bids, "val": bvals},
               {"id": pa.int64(), "val": pa.string()})
        _write(gpath, {"l_id": gl, "r_id": gr},
               {"l_id": pa.int64(), "r_id": pa.int64()})
        batches.append(bpath)
        gts.append(gpath)
        gt_pairs += len(gl)
        batch_vals.extend(bvals)
    return {
        "paths": {"master": master, "batches": batches, "gts": gts},
        "stats": {
            "master_rows": n_master,
            "batches": n_batches,
            "batch_rows": batch_size,
            "gt_pairs": gt_pairs,
            "tokens_per_record": round(_ws_tokens(vals + batch_vals), 2),
        },
    }
