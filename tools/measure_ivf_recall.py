"""Offline recall-vs-nprobe curve for the IVF operator (numpy replica).

Replicates ``operators/ann.ivf_topk``'s deterministic mini k-means (md5
seeded init, fixed Lloyd iterations, 6-dp distance/centroid rounding,
cid-ascending tie-breaks) in numpy so the inverted lists are built ONCE
per corpus and recall@k can be swept over a whole nprobe grid in seconds —
running the real operator once per grid point would pay the k-means every
time.  Used to derive (and re-verify) the ``adaptive_nprobe`` rule; the
correctness gate still runs the real Spark operator against its DuckDB
twin, this script only informs the parameter choice.

Usage:
  python tools/measure_ivf_recall.py --sf-dir /root/testdata/sf0.01 \
      --nprobes 2,4,8,16,32,64
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from foresttime_builder_spark.operators.ann import adaptive_k_clusters


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _r6(x):
    return np.floor(x * 1e6 + 0.5) / 1e6


def build_lists(vids, M, k_clusters, iters=2):
    """Returns (cent_matrix, cent_ids, assign) replicating ivf_topk."""
    # init: cid = hash60(md5(md5(vid))) % k; seed = argmin concat key
    cids0 = np.empty(len(vids), dtype=np.int64)
    keys = []
    for i, v in enumerate(vids):
        m1 = _md5(str(v))
        cids0[i] = int(_md5(m1)[:15], 16) % k_clusters
        keys.append(m1 + str(v).zfill(20))
    keys = np.array(keys)
    cent = {}
    for c in np.unique(cids0):
        idx = np.where(cids0 == c)[0]
        cent[int(c)] = M[idx[np.argmin(keys[idx])]].copy()
    cent_ids = np.array(sorted(cent), dtype=np.int64)
    C = np.stack([cent[c] for c in cent_ids])

    VV = np.einsum("ij,ij->i", M, M)

    def assign(C, cent_ids):
        CC = np.einsum("ij,ij->i", C, C)
        d = _r6(VV[:, None] - 2.0 * (M @ C.T) + CC[None, :])
        best = np.argmin(d, axis=1)  # first min = smallest cid (sorted)
        return cent_ids[best]

    a = assign(C, cent_ids)
    for _ in range(iters):
        new_ids = np.unique(a)
        C = np.stack([_r6(M[a == c].mean(axis=0)) for c in new_ids])
        cent_ids = new_ids
        a = assign(C, cent_ids)
    return C, cent_ids, a


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--nprobes", default="2,4,8,13,16,24,32,48,64,96,128,205")
    ap.add_argument("--k", type=int, default=3)
    ap.add_argument("--cap", type=int, default=25 * 512)
    args = ap.parse_args()

    t = pq.read_table(f"{args.sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    vids = np.array(t.column("vec_id").to_pylist(), dtype=np.int64)
    M = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    ok = ~np.isnan(M).any(axis=1)
    vids, M = vids[ok], M[ok]
    n = len(vids)
    kk = adaptive_k_clusters(n)
    C, cent_ids, a = build_lists(vids, M, kk)

    pmask = (vids % 25 == 0) & (vids < args.cap)
    pidx = np.where(pmask)[0]
    P = M[pidx]
    norms = np.sqrt(np.einsum("ij,ij->i", M, M))
    # ground truth: rounded cosine desc, neighbor id asc
    cos = np.round((P @ M.T) / (norms[pidx][:, None] * norms[None, :]), 6)
    order = np.lexsort((vids[None, :].repeat(len(pidx), 0), -cos), axis=1)
    exact = {}
    for r, pi in enumerate(pidx):
        sel = [j for j in order[r] if j != pi][: args.k]
        exact[pi] = set(vids[j] for j in sel)

    # probe -> nearest centroid ranks
    PP = np.einsum("ij,ij->i", P, P)
    CC = np.einsum("ij,ij->i", C, C)
    pd_ = _r6(PP[:, None] - 2.0 * (P @ C.T) + CC[None, :])
    cent_order = np.argsort(pd_, axis=1, kind="stable")

    inv = {}  # cid -> member row indices
    for c in np.unique(a):
        inv[int(c)] = np.where(a == c)[0]

    out = {"sf_dir": args.sf_dir, "n": int(n), "k_clusters": int(kk),
           "n_lists": int(len(cent_ids)), "curve": {}}
    for np_ in [int(x) for x in args.nprobes.split(",")]:
        np_eff = min(np_, len(cent_ids))
        recs, cand_tot = [], 0
        for r, pi in enumerate(pidx):
            cset = cent_ids[cent_order[r][:np_eff]]
            cand = np.concatenate([inv[int(c)] for c in cset])
            cand = cand[cand != pi]
            cand_tot += len(cand)
            cc = np.round((M[cand] @ M[pi]) / (norms[cand] * norms[pi]), 6)
            o = np.lexsort((vids[cand], -cc))[: args.k]
            got = set(vids[cand[o]])
            recs.append(len(got & exact[pi]) / args.k)
        out["curve"][np_] = {
            "recall": round(float(np.mean(recs)), 4),
            "mean_cands_per_probe": int(cand_tot / max(1, len(pidx))),
        }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
