"""Expected results computed apart from the engine: plain numpy and Python.

Each function restates the published definition of a kernel, not the engine's
plan, so a wrong engine result cannot also be the expected one.
"""
import numpy as np


def clean_pairs(src, dst):
    """Undirected simple edges (u < v): self-loops dropped, duplicates merged."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    keep = src != dst
    u = np.minimum(src, dst)[keep]
    v = np.maximum(src, dst)[keep]
    e = np.unique(np.stack([u, v], axis=1), axis=0)
    return e[:, 0].copy(), e[:, 1].copy()


def _index(u, v):
    verts = np.unique(np.concatenate([u, v]))
    return verts, np.searchsorted(verts, u), np.searchsorted(verts, v)


def forward_triangles(u, v, chunk=4_000_000):
    """Forward algorithm: orient every edge from lower to higher (degree, id),
    then each oriented wedge a->b->c closed by a->c is one triangle. Returns the
    global count, the vertex ids, per-vertex triangle counts and the oriented
    out-degrees."""
    verts, a, b = _index(u, v)
    n = len(verts)
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    # rank by (degree, id); ids are sorted, so a stable sort by degree does it
    rank = np.empty(n, dtype=np.int64)
    rank[np.argsort(deg, kind="stable")] = np.arange(n)
    lo = np.where(rank[a] < rank[b], a, b)
    hi = np.where(rank[a] < rank[b], b, a)
    order = np.lexsort((hi, lo))
    lo, hi = lo[order], hi[order]
    out_deg = np.bincount(lo, minlength=n)
    offs = np.concatenate([[0], np.cumsum(out_deg)])
    keys = lo * n + hi  # sorted, since (lo, hi) is lexsorted
    per_vertex = np.zeros(n, dtype=np.int64)
    total = 0
    # wedge x->y->z for edge i = (x, y) and every z in N+(y)
    fan = out_deg[hi]
    starts = np.cumsum(fan) - fan
    edge_ids = np.arange(len(lo))
    bounds = np.searchsorted(np.cumsum(fan), np.arange(0, fan.sum() + chunk, chunk), side="right")
    for i0, i1 in zip(bounds[:-1], bounds[1:]):
        if i0 >= i1:
            continue
        e = np.repeat(edge_ids[i0:i1], fan[i0:i1])
        k = np.arange(len(e)) - np.repeat(starts[i0:i1] - starts[i0], fan[i0:i1])
        x, y = lo[e], hi[e]
        z = hi[offs[y] + k]
        pos = np.searchsorted(keys, x * n + z)
        closed = (pos < len(keys)) & (keys[np.minimum(pos, len(keys) - 1)] == x * n + z)
        total += int(closed.sum())
        for w in (x[closed], y[closed], z[closed]):
            per_vertex += np.bincount(w, minlength=n)
    return total, verts, per_vertex, out_deg


def pagerank(u, v, damping=0.85, tol=1e-6, max_iter=100):
    """Power iteration on the undirected graph: pr0 = 1/n,
    pr'(x) = (1-d)/n + d * sum over neighbours y of pr(y)/deg(y),
    stopping once max |pr' - pr| < tol; returns pr' of the last iteration."""
    verts, a, b = _index(u, v)
    n = len(verts)
    src = np.concatenate([a, b])
    dst = np.concatenate([b, a])
    deg = np.bincount(src, minlength=n).astype(np.float64)
    pr = np.full(n, 1.0 / n)
    it = 0
    while it < max_iter:
        nxt = (1.0 - damping) / n + damping * np.bincount(dst, weights=pr[src] / deg[src], minlength=n)
        it += 1
        delta = np.abs(nxt - pr).max()
        pr = nxt
        if delta < tol:
            break
    return verts, pr, it


def label_propagation(u, v, iters):
    """Synchronous LPA: labels start as vertex ids; each step every vertex takes
    the label most frequent among its neighbours, ties to the smallest label."""
    verts, a, b = _index(u, v)
    n = len(verts)
    src = np.concatenate([a, b])
    dst = np.concatenate([b, a])
    label = verts.copy()
    for _ in range(iters):
        lab = label[src]
        order = np.lexsort((lab, dst))
        d, l = dst[order], lab[order]
        new_run = np.concatenate([[True], (d[1:] != d[:-1]) | (l[1:] != l[:-1])])
        run_start = np.flatnonzero(new_run)
        cnt = np.diff(np.concatenate([run_start, [len(d)]]))
        rd, rl = d[run_start], l[run_start]
        # per vertex: highest count, then smallest label
        pick = np.lexsort((rl, -cnt, rd))
        rd, rl = rd[pick], rl[pick]
        first = np.concatenate([[True], rd[1:] != rd[:-1]])
        label = np.empty(n, dtype=np.int64)
        label[rd[first]] = rl[first]
    return verts, label


def shingle_set(text, k):
    return {text[i:i + k] for i in range(len(text) - k + 1)}


def shingle_jaccard(a, b, k):
    sa, sb = shingle_set(a, k), shingle_set(b, k)
    return len(sa & sb) / len(sa | sb)


def participant_pairs(conv, name_columns):
    """Distinct unordered pairs of participant names (roles and non-null
    tools) that appear in the same conversation."""
    members = {}
    for col in name_columns:
        for c, name in zip(conv.tolist(), col.tolist()):
            if name is not None:
                members.setdefault(c, set()).add(name)
    pairs = set()
    for names in members.values():
        s = sorted(names)
        pairs.update((s[i], s[j]) for i in range(len(s)) for j in range(i + 1, len(s)))
    return sorted(pairs)


_M = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                           0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M


def xxhash64(text, seed=42):
    """XXH64 of the UTF-8 bytes (Yann Collet's published algorithm), as a
    signed 64-bit int: the id the transcripts edge rule documents."""
    b = text.encode("utf-8")
    n, i = len(b), 0

    def word(at, size):
        return int.from_bytes(b[at:at + size], "little")

    def rnd(acc, lane):
        return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M

    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i <= n - 32:
            v = [rnd(v[j], word(i + 8 * j, 8)) for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ rnd(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h = (_rotl(h ^ rnd(0, word(i, 8)), 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h = (_rotl(h ^ (word(i, 4) * _P1 & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ (b[i] * _P5 & _M), 11) * _P1) & _M
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h
