"""Seeded inputs for the benchmark workloads, and their expected results.

Every input is a pure function of (workload, seed). The generator does not call
the engine: the engine only sees the files written here. Expected results come
from `reference.py`, which computes them from the same arrays with plain
numpy / Python, apart from the engine.

Layout of one generated workload directory:
  input files        pairs.bin and the fixtures, or transcripts.parquet
  expect/*.i64|f64   little-endian arrays the JVM side compares against
  meta.json          scalars (row counts, expected totals, sizes)
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import reference as ref

# Input sizes. A pass takes 2-10 s on local[4], with the machine's load, mostly
# fixed per-job cost, so a run of three timed passes fits the run budget (see
# README.md).
SKEWED = dict(vertices=16_000, pairs=80_000, gamma=2.1)
TRANSCRIPTS = dict(convs=1_000, mean_turns=10, hot_turns=600,
                   dup_share=0.02, vocab=6_000)
LPA_ITERS = 1
MINHASH = dict(k=13, perms=64, bands=16, threshold=0.35)

# The reference fixture graphs (FIXTURES.md), as written by the reference's
# graph_generator.py.
FIXTURES = {
    "tri1": [(0, 1), (2, 0), (1, 2)],
    "nvgraph8": [(1, 0), (2, 1), (3, 1), (3, 2), (4, 2), (4, 3), (5, 4), (5, 3)],
}

ROLES = ["system", "user", "assistant"]
# Tool sets, most used first: a conversation calls tools of one set only, so
# the participant graph is the three roles joined to every tool, plus one
# clique per set. Each set has a hot conversation and hundreds of ordinary
# ones, so the graph comes out the same for every seed; two sets of equal
# size keep PageRank at 5 iterations (unequal ones converge far slower).
_MCP = [f"mcp__{srv}__{op}" for srv in ["github", "jira", "slack", "postgres", "browser", "figma"]
        for op in ["get", "list", "create", "update", "search"]]
TOOLSETS = [["bash", "read", "edit", "grep", "glob", "write", "web_fetch", "web_search", "task",
             "todo_write", "notebook_edit", "python"] + _MCP[:9], _MCP[9:]]
TOOLS = [t for ts in TOOLSETS for t in ts]


def write_array(path, arr, dtype):
    np.ascontiguousarray(arr, dtype=np.dtype(dtype).newbyteorder("<")).tofile(path)


def write_pairs_bin(path, src, dst):
    """Little-endian uint32 pairs, the reference's on-disk edge format."""
    rec = np.empty((len(src), 2), dtype="<u4")
    rec[:, 0] = src
    rec[:, 1] = dst
    rec.tofile(path)


def power_law_pairs(rng, vertices, pairs, gamma):
    """Chung-Lu style pairs: endpoint i is drawn with weight (i+1)^(-1/(gamma-1)),
    ids are then scattered over the uint32 range so hubs are not the low ids.
    Duplicates, both directions and self-loops are kept: cleaning them is the
    engine's job."""
    w = (np.arange(vertices) + 1.0) ** (-1.0 / (gamma - 1.0))
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    ends = np.searchsorted(cdf, rng.random(2 * pairs), side="right")
    ids = rng.choice(np.uint64(1) << np.uint64(31), size=vertices, replace=False).astype(np.int64)
    ends = ids[np.minimum(ends, vertices - 1)]
    return ends[:pairs], ends[pairs:]


def gen_triangles(out, seed):
    size = SKEWED
    rng = np.random.default_rng(seed)
    src, dst = power_law_pairs(rng, size["vertices"], size["pairs"], size["gamma"])
    write_pairs_bin(os.path.join(out, "pairs.bin"), src, dst)
    u, v = ref.clean_pairs(src, dst)
    tri, verts, per_vertex, out_deg = ref.forward_triangles(u, v)
    write_array(os.path.join(out, "expect", "tri_v.i64"), verts, np.int64)
    write_array(os.path.join(out, "expect", "tri_cnt.i64"), per_vertex, np.int64)
    meta = dict(rows=int(size["pairs"]), edges=int(len(u)), vertices=int(len(verts)),
                triangles=int(tri), max_out_deg=int(out_deg.max()),
                max_deg=int(np.bincount(np.searchsorted(verts, np.concatenate([u, v]))).max()))
    fx = {}
    for name, edges in FIXTURES.items():
        a = np.array([e[0] for e in edges], dtype=np.int64)
        b = np.array([e[1] for e in edges], dtype=np.int64)
        write_pairs_bin(os.path.join(out, f"{name}.bin"), a, b)
        fu, fv = ref.clean_pairs(a, b)
        ftri, fverts, fper, _ = ref.forward_triangles(fu, fv)
        fx[name] = dict(pairs=len(edges), edges=int(len(fu)), triangles=int(ftri),
                        v=fverts.tolist(), cnt=fper.tolist())
    meta["fixtures"] = fx
    return meta


def write_iterative(out, u, v):
    """Expected results of the iterative kernels over edges (u, v)."""
    verts, pr, iters = ref.pagerank(u, v)
    _, lpa = ref.label_propagation(u, v, LPA_ITERS)
    for name, arr in [("edge_u", u), ("edge_v", v), ("v", verts), ("lpa", lpa)]:
        write_array(os.path.join(out, "expect", f"{name}.i64"), arr, np.int64)
    write_array(os.path.join(out, "expect", "pr.f64"), pr, np.float64)
    return dict(edges=int(len(u)), vertices=int(len(verts)), pagerank_iters=int(iters),
                lpa_iters=LPA_ITERS)


def random_words(rng, vocab, n):
    lens = rng.integers(3, 10, size=vocab)
    letters = rng.integers(0, 26, size=int(lens.sum()))
    chars = np.frombuffer((letters + ord("a")).astype(np.uint8).tobytes(), dtype="S1")
    out, pos = [], 0
    for ln in lens:
        out.append(b"".join(chars[pos:pos + ln]).decode())
        pos += ln
    return out[:n]


def gen_transcripts(out, seed):
    size = TRANSCRIPTS
    rng = np.random.default_rng(seed)
    words = np.array(random_words(rng, size["vocab"], size["vocab"]), dtype=object)
    word_p = 1.0 / (np.arange(size["vocab"]) + 10.0)
    word_p /= word_p.sum()
    set_p = 1.0 / (np.arange(len(TOOLSETS)) + 1.0) ** 0.8
    set_p /= set_p.sum()

    turns = rng.geometric(1.0 / size["mean_turns"], size=size["convs"])
    hot = rng.choice(size["convs"], size=len(TOOLSETS), replace=False)
    turns[hot] = size["hot_turns"]
    n = int(turns.sum())
    conv = np.repeat(np.arange(size["convs"]), turns)
    starts = np.concatenate([[0], np.cumsum(turns)[:-1]])
    turn_idx = np.arange(n) - np.repeat(starts, turns)
    role = np.where(turn_idx % 2 == 0, 1, 2)
    role[(turn_idx == 0) & (rng.random(n) < 0.3)] = 0
    offsets = np.cumsum([0] + [len(ts) for ts in TOOLSETS])
    conv_set = rng.choice(len(TOOLSETS), size=size["convs"], p=set_p)
    conv_set[hot] = np.arange(len(TOOLSETS))
    toolset = conv_set[conv]
    sizes = np.diff(offsets)[toolset]
    within = np.minimum((rng.random(n) * sizes).astype(np.int64), sizes - 1)
    tool = np.where((role == 2) & (rng.random(n) < 0.45), offsets[toolset] + within, -1)

    nwords = rng.integers(25, 70, size=n)
    flat = rng.choice(words, size=int(nwords.sum()), p=word_p)
    offs = np.concatenate([[0], np.cumsum(nwords)])
    text = [" ".join(flat[offs[i]:offs[i + 1]]) for i in range(n)]
    # planted near-duplicates: a later turn repeats an earlier turn's text with
    # one word appended (Jaccard of 13-char shingles >= 0.9 by construction)
    dup_rows = np.sort(rng.choice(np.arange(1, n), size=int(n * size["dup_share"]), replace=False))
    planted = []
    for r in dup_rows:
        base = int(rng.integers(0, r))
        text[r] = text[base] + " " + words[int(rng.integers(0, size["vocab"]))]
        planted.append((base, int(r)))

    gaps = rng.integers(1, 600, size=n).astype(np.int64)
    gaps[starts] = rng.integers(0, 30 * 86400, size=size["convs"])
    ts_us = (np.cumsum(gaps) - np.repeat(np.cumsum(gaps)[starts] - gaps[starts], turns)) \
        * 1_000_000 + 1_704_067_200_000_000
    conv_ids = np.array([f"c{i:07d}" for i in range(size["convs"])], dtype=object)
    roles = np.array(ROLES, dtype=object)
    tools = np.array(TOOLS + [None], dtype=object)
    table = pa.table({
        "conv_id": pa.array(conv_ids[conv], pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(roles[role], pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tools[tool], pa.string()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
    })
    pq.write_table(table, os.path.join(out, "transcripts.parquet"), row_group_size=20_000)

    # doc id as the benchmark derives it: conv number * 10000 + turn_idx
    doc_id = conv.astype(np.int64) * 10_000 + turn_idx
    assert turns.max() < 10_000
    pa_rows = np.array(sorted(planted), dtype=np.int64).reshape(-1, 2)
    jac = [ref.shingle_jaccard(text[a], text[b], MINHASH["k"]) for a, b in pa_rows]
    assert min(jac) >= 0.9, "a planted pair is not a near-duplicate"
    write_array(os.path.join(out, "expect", "dup_a.i64"), doc_id[pa_rows[:, 0]], np.int64)
    write_array(os.path.join(out, "expect", "dup_b.i64"), doc_id[pa_rows[:, 1]], np.int64)
    # participant ids as the transcripts edge rule documents them: xxhash64
    ids = {name: ref.xxhash64(name) for name in ROLES + TOOLS}
    pairs = ref.participant_pairs(conv, [roles[role], tools[tool]])
    u, v = ref.clean_pairs([ids[a] for a, _ in pairs], [ids[b] for _, b in pairs])
    return dict(rows=n, turns_max=int(turns.max()), planted=len(pa_rows), minhash=MINHASH,
                **write_iterative(out, u, v))


WORKLOADS = ["tri_skewed", "transcripts"]


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` into `out` unless already there."""
    done = os.path.join(out, "meta.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "expect"))
    if workload == "tri_skewed":
        meta = gen_triangles(tmp, seed)
    elif workload == "transcripts":
        meta = gen_transcripts(tmp, seed)
    else:
        raise ValueError(f"unknown workload {workload}")
    meta.update(workload=workload, seed=seed)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return meta
