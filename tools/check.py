#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify),
runs the matching oracle SQL from oracle_sql.json in DuckDB with the
sfDir tables registered as views, and compares: schema (column names,
sorted), row count, and cell values (exact for non-floats, tiny eps for
floats). Exit code 1 if any query mismatches.
"""
import sys, json, glob, math, os, atexit, shutil, tempfile
import duckdb

# Per-run spill dir (concurrent check runs must not contend on one
# path), cleaned up on exit.
_SPILL_DIR = tempfile.mkdtemp(prefix="duckdb_check_spill_")
atexit.register(lambda: shutil.rmtree(_SPILL_DIR, ignore_errors=True))


def _mem_limit_gb():
    # Derive from available RAM instead of a hardcoded 24GB: on a
    # smaller host a fixed limit above physical memory reintroduces
    # the hard allocation failure the bound exists to prevent.
    try:
        avail_kb = 0
        total_kb = 0
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_kb = int(line.split()[1])
                elif line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
        if avail_kb:
            # Floor at 4GB on big hosts: a transient load spike can
            # leave MemAvailable near-zero for a moment, and min 1GB
            # is too tight for the q127 n^2 oracle join.
            floor = 4 if total_kb >= 32 * 1024 * 1024 else 1
            return max(floor, min(24, int(avail_kb / 1024 / 1024 * 0.5)))
    except (OSError, ValueError, IndexError):
        # malformed /proc line or unreadable /proc: fall through
        pass
    return 4  # conservative fallback when /proc is unreadable


def connect(sf_dir):
    con = duckdb.connect()
    # Pin the memory budget and give DuckDB a spill path: the default
    # (80% of RAM, no temp dir) turns a transient host-memory spike
    # into a hard "bad allocation" mid-sweep; with a bounded limit +
    # temp_directory the same query spills and finishes.
    con.sql(f"SET memory_limit='{_mem_limit_gb()}GB'")
    con.sql(f"SET temp_directory='{_SPILL_DIR}'")
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = p.split("/")[-1].removesuffix(".parquet")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def _preflight_map_count(sf_dir):
    # Round-13 round-close flake: on a 124-GB-free host the sf0.1
    # check died with kilobyte-block "bad allocation" until
    # vm.max_map_count was raised 65530 -> 1048576 — DuckDB's
    # allocator fragments the address space on q127-scale oracle
    # joins and every later mmap ENOMEMs at the default map cap,
    # regardless of free RAM. Warn up front when the sysctl is at
    # default and the scale dir is big enough to hit it, so the
    # failure is pre-attributed instead of read as an oracle bug.
    try:
        with open("/proc/sys/vm/max_map_count") as f:
            cap = int(f.read().strip())
    except (OSError, ValueError):
        return
    if cap > 65530:
        return
    # recursive: a scale dir holding Spark-written table DIRECTORIES
    # (table/part-*.parquet) would otherwise size as 0 and silently
    # never warn (r14 ADVICE)
    total = sum(os.path.getsize(p)
                for p in glob.glob(f"{sf_dir}/**/*.parquet",
                                   recursive=True)
                if os.path.isfile(p))
    if total >= 100 * 1024 * 1024:  # ~sf0.1 and up
        print(f"WARNING: vm.max_map_count={cap} (default) with a "
              f"{total >> 20} MB scale dir - DuckDB can fail with "
              f"'bad allocation' on kilobyte blocks despite free RAM "
              f"(address-space map exhaustion). If this run fails that "
              f"way, raise it: sysctl -w vm.max_map_count=1048576",
              file=sys.stderr)


# --- xxHash64 (Spark-compatible, pure Python + numpy) ----------------
# Port of the reference xxHash64 (Collet), the algorithm behind
# Spark's `xxhash64` SQL function and catalyst XXH64.hashLong - the
# primitive every LSH replay below needs. Shares no code with the
# engine; validated end-to-end by the replays matching every row.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h):
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _xxh64_long(v, seed):
    """XXH64.hashLong: one 8-byte word, Spark's minhash/band primitive."""
    h = (seed + _P5 + 8) & _M
    k = ((v & _M) * _P2) & _M
    k = (_rotl(k, 31) * _P1) & _M
    h ^= k
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def _xxh64_bytes(data, seed=42):
    """XXH64 over bytes - Spark's xxhash64(string) on the UTF-8 form."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = (_rotl((v1 + int.from_bytes(data[i:i + 8], "little")
                         * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + int.from_bytes(data[i + 8:i + 16], "little")
                         * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + int.from_bytes(data[i + 16:i + 24], "little")
                         * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + int.from_bytes(data[i + 24:i + 32], "little")
                         * _P2) & _M, 31) * _P1) & _M
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            k = (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = ((h ^ k) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        k = (_rotl((int.from_bytes(data[i:i + 8], "little") * _P2) & _M,
                   31) * _P1) & _M
        h ^= k
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    return _fmix(h)


def _np_hash_long(v, seed):
    """Vectorized _xxh64_long over a uint64 numpy array."""
    import numpy as np
    u = np.uint64
    h0 = u((seed + _P5 + 8) & _M)
    with np.errstate(over="ignore"):
        k = v * u(_P2)
        k = ((k << u(31)) | (k >> u(33))) * u(_P1)
        h = h0 ^ k
        h = ((h << u(27)) | (h >> u(37))) * u(_P1) + u(_P4)
        h ^= h >> u(33)
        h *= u(_P2)
        h ^= h >> u(29)
        h *= u(_P3)
        h ^= h >> u(32)
    return h


_TOKEN_HASH_CACHE = {}


def _token_hash(t):
    h = _TOKEN_HASH_CACHE.get(t)
    if h is None:
        h = _xxh64_bytes(t.encode("utf-8"), 42)
        _TOKEN_HASH_CACHE[t] = h
    return h


def _round_half_up(x, places):
    # Spark's round(col, n): BigDecimal(double) + HALF_UP - Decimal
    # from a float is the same exact binary expansion
    from decimal import Decimal, ROUND_HALF_UP
    return float(Decimal(x).quantize(Decimal("0." + "0" * (places - 1)
                                             + "1"),
                                     rounding=ROUND_HALF_UP))


def _round_half_up4(x):
    return _round_half_up(x, 4)


def _fetch_docs(con, sf_dir):
    return con.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()


def _minhash_sigs(token_sets, k=64):
    """doc -> k signed minhashes (min over XXH64.hashLong(tok, j+1),
    SIGNED comparison like Java long), vectorized over all docs."""
    import numpy as np
    ids = sorted(token_sets)
    offsets = []
    flat = []
    for d in ids:
        offsets.append(len(flat))
        flat.extend(token_sets[d])
    arr = np.array(flat, dtype=np.uint64)
    offs = np.array(offsets, dtype=np.int64)
    sigs = {d: [0] * k for d in ids}
    for j in range(k):
        hj = _np_hash_long(arr, j + 1).view(np.int64)
        mins = np.minimum.reduceat(hj, offs)
        for di, d in enumerate(ids):
            sigs[d][j] = int(mins[di])
    return sigs


def _band_hashes(sig, bands=8):
    """xxhash64(mh[b*r] ... mh[b*r+r-1]): Spark chains hashLong with
    the running hash as seed, starting at 42."""
    rows = len(sig) // bands
    out = []
    for b in range(bands):
        h = 42
        for r in range(rows):
            h = _xxh64_long(sig[b * rows + r], h)
        out.append(h)
    return out


def _lsh_verified_pairs(token_sets, threshold=0.9):
    """candidatePairs + exact verify over one token-set table -
    exactly the engine's filters: band-bucket collision, size ratio,
    32-hash prefix estimate >= threshold - 0.25, exact Jaccard >=
    threshold. Returns {(a, b): jaccard} with a < b."""
    sigs = _minhash_sigs(token_sets)
    bh = {d: _band_hashes(s) for d, s in sigs.items()}
    buckets = {}
    for d in sorted(token_sets):
        for band, h in enumerate(bh[d]):
            buckets.setdefault((band, h), []).append(d)
    cands = set()
    for members in buckets.values():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i], members[j]
                if a > b:
                    a, b = b, a
                cands.add((a, b))
    est_floor = threshold - 0.25
    out = {}
    for a, b in cands:
        sa, sb = len(token_sets[a]), len(token_sets[b])
        if min(sa, sb) < max(sa, sb) * threshold:
            continue
        matches = sum(1 for x, y in zip(sigs[a][:32], sigs[b][:32])
                      if x == y)
        if matches / 32.0 < est_floor:
            continue
        inter = len(token_sets[a] & token_sets[b])
        j = inter / (sa + sb - inter)
        if j >= threshold:
            out[(a, b)] = j
    return out


def _compare_pairs(res_dir, con, expected, what):
    """expected: {(a, b): jaccard}; engine rows (doc_a, doc_b,
    jaccard) must match exactly."""
    rel = con.sql(f"SELECT * FROM '{res_dir}/*.parquet'")
    cols = [d[0] for d in rel.description]
    ia, ib = cols.index("doc_a"), cols.index("doc_b")
    ij = cols.index(what)
    got = {(r[ia], r[ib]): r[ij] for r in rel.fetchall()}
    if len(got) != len(expected):
        only_g = sorted(set(got) - set(expected))[:3]
        only_e = sorted(set(expected) - set(got))[:3]
        return (f"pair sets differ: engine {len(got)} vs replay "
                f"{len(expected)}; engine-only {only_g}, "
                f"replay-only {only_e}")
    for k, v in expected.items():
        if k not in got:
            return f"replay pair {k} missing from engine output"
        if got[k] != v:
            return f"pair {k}: engine {what} {got[k]!r} vs replay {v!r}"
    return None


def replay_minhash_lsh(con, sf_dir, res_dir):
    """q31: exact-dup collapse -> LSH over representatives -> exact
    verify >= 0.9 -> clique expansion -> round(j, 4)."""
    docs = _fetch_docs(con, sf_dir)
    if len(docs) > 20000:
        return "skip: corpus too large for the Python replay bound"
    tok = {d: frozenset(_token_hash(t) for t in set(text.split(" ")))
           for d, text in docs}
    # collapseGroups: identical token sets share one representative
    # (the engine groups on a 128-bit double-xxhash key; identical
    # sets <=> identical key up to a ~1e-20 collision bound)
    groups = {}
    for d in sorted(tok):
        groups.setdefault(tok[d], []).append(d)
    rep_sets = {min(ms): set(s) for s, ms in groups.items()}
    rep_pairs = _lsh_verified_pairs(rep_sets)
    expected = {}
    for s, ms in groups.items():
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                expected[(ms[i], ms[j])] = 1.0
    members = {min(ms): ms for ms in groups.values()}
    for (ra, rb), jac in rep_pairs.items():
        jr = _round_half_up4(jac)
        for ma in members[ra]:
            for mb in members[rb]:
                a, b = (ma, mb) if ma < mb else (mb, ma)
                expected[(a, b)] = jr
    return _compare_pairs(res_dir, con, expected, "jaccard")


def replay_incremental_neardup(con, sf_dir, res_dir):
    """q75: q31's machinery restricted to pairs touching the mod-7
    batch - NO exact-dup collapse, batch-oriented candidate join."""
    docs = _fetch_docs(con, sf_dir)
    if len(docs) > 20000:
        return "skip: corpus too large for the Python replay bound"
    tok = {d: frozenset(_token_hash(t) for t in set(text.split(" ")))
           for d, text in docs}
    new_ids = {d for d in tok if d % 7 == 0}
    sigs = _minhash_sigs(tok)
    bh = {d: _band_hashes(s) for d, s in sigs.items()}
    buckets = {}
    for d in sorted(tok):
        for band, h in enumerate(bh[d]):
            buckets.setdefault((band, h), []).append(d)
    cands = set()
    for members in buckets.values():
        news = [d for d in members if d in new_ids]
        for a in news:
            for b in members:
                if a == b:
                    continue
                if b in new_ids and not (a < b):
                    continue
                cands.add((a, b))
    threshold = 0.9
    expected = {}
    for a, b in cands:
        sa, sb = len(tok[a]), len(tok[b])
        if min(sa, sb) < max(sa, sb) * threshold:
            continue
        matches = sum(1 for x, y in zip(sigs[a][:32], sigs[b][:32])
                      if x == y)
        if matches / 32.0 < threshold - 0.25:
            continue
        inter = len(tok[a] & tok[b])
        j = inter / (sa + sb - inter)
        if j >= threshold:
            lo, hi = (a, b) if a < b else (b, a)
            expected[(lo, hi)] = _round_half_up4(j)
    return _compare_pairs(res_dir, con, expected, "jaccard")


def replay_cluster_labels(con, sf_dir, res_dir):
    """q49 (LSH regime): exact-dup collapse -> LSH-verified
    REPRESENTATIVE pairs -> union-find over star+rep edges -> min-id
    component labels, keeper = (doc_id == cluster_id). Runs only
    above the engine's exact-regime doc limit (2000): below it the
    exact-CC pipeline is hash-checked by the DuckDB WITH RECURSIVE
    oracle, and above it that oracle is unaffordable (measured r19:
    the min-label recursion on the sf0.1 clique structure burned
    >35 CPU-min without converging), so the LSH-tier labeling gets
    this independent cell-for-cell check instead."""
    docs = _fetch_docs(con, sf_dir)
    if len(docs) <= 2000:
        return "skip: exact regime (DuckDB oracle covers it)"
    if len(docs) > 20000:
        return "skip: corpus too large for the Python replay bound"
    tok = {d: frozenset(_token_hash(t) for t in set(text.split(" ")))
           for d, text in docs}
    groups = {}
    for d in sorted(tok):
        groups.setdefault(tok[d], []).append(d)
    rep_sets = {min(ms): set(s) for s, ms in groups.items()}
    rep_pairs = _lsh_verified_pairs(rep_sets)
    parent = {d: d for d, _ in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for ms in groups.values():
        for m in ms[1:]:
            union(ms[0], m)
    for a, b in rep_pairs:
        union(a, b)
    # path-compress to min-id roots (union keeps the min as root)
    expected = {d: find(d) for d, _ in docs}
    rel = con.sql(f"SELECT doc_id, cluster_id, is_keeper "
                  f"FROM '{res_dir}/*.parquet'")
    got = rel.fetchall()
    if len(got) != len(expected):
        return (f"row count: engine {len(got)} vs replay "
                f"{len(expected)}")
    seen = set()
    for doc_id, cid, keep in got:
        if doc_id in seen:
            return f"doc {doc_id} appears twice in engine output"
        seen.add(doc_id)
        if expected.get(doc_id) != cid:
            return (f"doc {doc_id}: engine cluster {cid} vs replay "
                    f"{expected.get(doc_id)}")
        if bool(keep) != (doc_id == cid):
            return f"doc {doc_id}: is_keeper {keep} vs {doc_id == cid}"
    return None


def replay_simhash(con, sf_dir, res_dir):
    """q32: 64-bit SimHash over distinct tokens, 4x16-bit band
    blocking, Hamming <= 8."""
    docs = _fetch_docs(con, sf_dir)
    if len(docs) > 20000:
        return "skip: corpus too large for the Python replay bound"
    sig = {}
    for d, text in docs:
        counters = [0] * 64
        for t in set(text.split(" ")):
            h = _token_hash(t)
            for j in range(64):
                counters[j] += 1 if (h >> j) & 1 else -1
        s = 0
        for j in range(64):
            if counters[j] >= 0:
                s |= 1 << j
        sig[d] = s
    buckets = {}
    for d in sorted(sig):
        for band in range(4):
            buckets.setdefault(
                (band, (sig[d] >> (band * 16)) & 0xFFFF), []).append(d)
    cands = set()
    for members in buckets.values():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i], members[j]
                if a > b:
                    a, b = b, a
                cands.add((a, b))
    expected = {}
    for a, b in cands:
        hd = bin(sig[a] ^ sig[b]).count("1")
        if hd <= 8:
            expected[(a, b)] = hd
    return _compare_pairs(res_dir, con, expected, "hamming")


def _cosine_seq(a, b, n=None):
    """Sequential double accumulation - bit-identical to the engine's
    CosineSimilarity (floats widened element-wise, one left-to-right
    pass; numpy's pairwise-summed dot would NOT be)."""
    if n is None:
        n = min(len(a), len(b))
    dot = na = nb = 0.0
    for i in range(n):
        xi = a[i]
        yi = b[i]
        dot += xi * yi
        na += xi * xi
        nb += yi * yi
    if na == 0.0 or nb == 0.0:
        return 0.0
    return dot / (math.sqrt(na) * math.sqrt(nb))


def _fetch_embeddings(con, sf_dir):
    return {i: v for i, v in con.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet'"
    ).fetchall()}


def _ann_topk(vecs, qid, cands, k=5, dim=None):
    """(sim, id) top-k by (sim DESC, id ASC) - the engine's window."""
    scored = sorted(((_cosine_seq(vecs[qid], vecs[n], dim), n)
                     for n in cands), key=lambda t: (-t[0], t[1]))
    return scored[:k]


_ANN_K = 5
_ANN_QUERIES = 10


def replay_ann_lsh(con, sf_dir, res_dir):
    """q36: 24-bit hyperplane LSH (3-bit x 8 bands), exact cosine on
    band-colliding candidates, top-5 per query."""
    vecs = _fetch_embeddings(con, sf_dir)
    if len(vecs) > 60000:
        return "skip: corpus too large for the Python replay bound"
    nbits, bands, bandbits = 24, 8, 3
    dim = max(len(v) for v in vecs.values())
    signs = [[1.0 if _xxh64_long(j * 65536 + k, 42) & 1 else -1.0
              for k in range(dim)] for j in range(nbits)]

    def hyper_sig(v):
        s = 0
        for j in range(nbits):
            acc = 0.0
            sj = signs[j]
            for k in range(len(v)):
                acc += v[k] * sj[k]
            if acc >= 0.0:
                s |= 1 << j
        return s

    sigs = {i: hyper_sig(v) for i, v in vecs.items()}
    buckets = {}
    for i in sorted(sigs):
        s = sigs[i]
        for b in range(bands):
            buckets.setdefault(
                (b, (s >> (b * bandbits)) & ((1 << bandbits) - 1)),
                []).append(i)
    expected = []
    for q in sorted(i for i in vecs if i < _ANN_QUERIES):
        sq = sigs[q]
        cands = set()
        for b in range(bands):
            for n in buckets.get(
                    (b, (sq >> (b * bandbits)) & ((1 << bandbits) - 1)),
                    []):
                if n != q:
                    cands.add(n)
        for rank, (sim, n) in enumerate(_ann_topk(vecs, q, cands), 1):
            expected.append((q, n, _round_half_up4(sim), rank))
    rel = con.sql(f"SELECT query_id, neighbor_id, sim, rank "
                  f"FROM '{res_dir}/*.parquet' ORDER BY query_id, rank")
    got = [tuple(r) for r in rel.fetchall()]
    if got != expected:
        for g, e in zip(got, expected):
            if g != e:
                return f"row diverges: engine {g} vs replay {e}"
        return f"row counts: engine {len(got)} vs replay {len(expected)}"
    return None


def replay_dim_recall(con, sf_dir, res_dir):
    """q119: exact top-5 recall of prefix-dim cosine vs full 64-d."""
    vecs = _fetch_embeddings(con, sf_dir)
    if len(vecs) > 60000:
        return "skip: corpus too large for the Python replay bound"
    queries = sorted(i for i in vecs if i < _ANN_QUERIES)
    all_ids = sorted(vecs)
    full = set()
    for q in queries:
        cands = [n for n in all_ids if n != q]
        for _, n in _ann_topk(vecs, q, cands):
            full.add((q, n))
    expected = []
    for dim in (8, 16, 32, 64):
        hits = 0
        for q in queries:
            cands = [n for n in all_ids if n != q]
            for _, n in _ann_topk(vecs, q, cands, dim=dim):
                if (q, n) in full:
                    hits += 1
        expected.append((dim, hits / len(full)))
    rel = con.sql(f"SELECT dim, recall_at_5 FROM '{res_dir}/*.parquet' "
                  f"ORDER BY dim")
    got = [tuple(r) for r in rel.fetchall()]
    if got != expected:
        return f"engine {got} vs replay {expected}"
    return None


# --- media perceptual-dedup replay oracles (r15 verdict item 1) ------
# Decode stays JVM-side (codecs + corpus generators), so the decode
# half of the media family keeps its recall gates — but banding,
# Hamming verify, slot aggregation, and min-id clustering are pure
# functions of the 64-bit fingerprints. graft.Verify dumps each
# modality's fingerprint table (from the query run's own hash caches)
# as a _phashes.json/_fhashes.json side output carrying its banding
# constants; these replays re-derive candidate generation and
# verification from scratch in Python and compare cell-for-cell.

# q155's namespace offsets (MediaDedup.AudioNsOffset/VideoNsOffset):
# structural id-space bookkeeping, asserted here so a drift in the
# engine's namespaces fails the replay loudly.
_AUDIO_NS = 1 << 41
_VIDEO_NS = 1 << 42


def _load_side(path):
    return json.load(open(path)) if os.path.exists(path) else None


def _sibling_side(res_dir, sibling, fname):
    base = os.path.dirname(res_dir.rstrip("/"))
    return _load_side(f"{base}/{sibling}/{fname}")


def _phash_pairs(side):
    """{(a, b): hamming} with a < b - 64-bit LSH banding, within-
    bucket distinct pairs, exact Hamming verify (MediaDedup
    .nearDupPairs' shape, re-derived)."""
    hashes = {r[0]: r[1] for r in side["rows"]}
    bands, bits = side["bands"], side["band_bits"]
    mask = (1 << bits) - 1
    buckets = {}
    for i in sorted(hashes):
        h = hashes[i] & _M
        for b in range(bands):
            buckets.setdefault((b, (h >> (b * bits)) & mask), []).append(i)
    cands = set()
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                if a > b:
                    a, b = b, a
                if a != b:
                    cands.add((a, b))
    out = {}
    for a, b in cands:
        hd = bin((hashes[a] ^ hashes[b]) & _M).count("1")
        if hd <= side["max_hamming"]:
            out[(a, b)] = hd
    return out


def _video_pairs(side):
    """{(va, vb): (matched_a, matched_b, slots_a, slots_b,
    match_frac)} - VideoDedup.videoDupPairs' shape re-derived: banded
    frame candidates, per-(va,sa,vb,sb) dedup, Hamming verify,
    distinct-slot counts, match_frac = max of the two slot
    fractions."""
    rows = side["rows"]
    bands, bits = side["bands"], side["band_bits"]
    mask = (1 << bits) - 1
    buckets = {}
    for vid, slot, fh in rows:
        h = fh & _M
        for b in range(bands):
            buckets.setdefault((b, (h >> (b * bits)) & mask),
                               []).append((vid, slot, fh))
    frame_pairs = {}
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                va, sa, ha = members[x]
                vb, sb, hb = members[y]
                if va == vb:
                    continue
                if va > vb:
                    va, sa, ha, vb, sb, hb = vb, sb, hb, va, sa, ha
                frame_pairs[(va, sa, vb, sb)] = (ha, hb)
    matched = {}
    for (va, sa, vb, sb), (ha, hb) in frame_pairs.items():
        if bin((ha ^ hb) & _M).count("1") <= side["max_hamming"]:
            ma, mb = matched.setdefault((va, vb), (set(), set()))
            ma.add(sa)
            mb.add(sb)
    slots = {}
    for vid, _, _ in rows:
        slots[vid] = slots.get(vid, 0) + 1
    out = {}
    for (va, vb), (ma, mb) in matched.items():
        frac = max(len(ma) / slots[va], len(mb) / slots[vb])
        if frac >= side["min_match_frac"]:
            out[(va, vb)] = (len(ma), len(mb), slots[va], slots[vb], frac)
    return out


def _compare_video(res_dir, con, expected):
    rel = con.sql(f"SELECT video_a, video_b, matched_a, matched_b, "
                  f"slots_a, slots_b, match_frac "
                  f"FROM '{res_dir}/*.parquet'")
    got = {(r[0], r[1]): tuple(r[2:]) for r in rel.fetchall()}
    if len(got) != len(expected):
        only_g = sorted(set(got) - set(expected))[:3]
        only_e = sorted(set(expected) - set(got))[:3]
        return (f"pair sets differ: engine {len(got)} vs replay "
                f"{len(expected)}; engine-only {only_g}, "
                f"replay-only {only_e}")
    for k, v in expected.items():
        g = got.get(k)
        if g is None:
            return f"replay pair {k} missing from engine output"
        # integer columns stay exact; match_frac gets a tight epsilon
        # instead of bitwise equality (r16 ADVICE: both sides happen
        # to do one IEEE double divide of the same longs today, but a
        # future decimal cast or rounding in the engine would turn an
        # equivalent fraction into a hard replay failure)
        if g[:4] != v[:4]:
            return f"pair {k}: engine {g[:4]} vs replay {v[:4]}"
        if abs(g[4] - v[4]) > 1e-9 * max(abs(v[4]), 1.0):
            return f"pair {k} match_frac: engine {g[4]} vs replay {v[4]}"
    return None


_MEDIA_REPLAY_BOUND = 500000


def _replay_phash_dedup(con, res_dir):
    side = _load_side(f"{res_dir}/_phashes.json")
    if side is None:
        return "skip: no _phashes.json side output"
    if len(side["rows"]) > _MEDIA_REPLAY_BOUND:
        return "skip: corpus too large for the Python replay bound"
    return _compare_pairs(res_dir, con, _phash_pairs(side), "hamming")


def replay_media_dedup(con, sf_dir, res_dir):
    """q152: banded dHash candidates + Hamming <= 10 verify."""
    return _replay_phash_dedup(con, res_dir)


def replay_audio_dedup(con, sf_dir, res_dir):
    """q154: q152's machinery over the audio contour fingerprints."""
    return _replay_phash_dedup(con, res_dir)


def _replay_incremental_phash(con, res_dir, sibling):
    """q157/q158: banding is deterministic, so the incremental pass
    equals the full pass restricted to pairs touching the mod-7
    batch - the same identity the engine's gate pins at diff zero,
    here re-derived from the fingerprints."""
    side = _sibling_side(res_dir, sibling, "_phashes.json")
    if side is None:
        return f"skip: no {sibling}/_phashes.json side output"
    if len(side["rows"]) > _MEDIA_REPLAY_BOUND:
        return "skip: corpus too large for the Python replay bound"
    expected = {p: h for p, h in _phash_pairs(side).items()
                if p[0] % 7 == 0 or p[1] % 7 == 0}
    return _compare_pairs(res_dir, con, expected, "hamming")


def replay_incremental_media(con, sf_dir, res_dir):
    return _replay_incremental_phash(
        con, res_dir, "q152_media_perceptual_dedup")


def replay_incremental_audio(con, sf_dir, res_dir):
    return _replay_incremental_phash(
        con, res_dir, "q154_audio_perceptual_dedup")


def replay_video_dedup(con, sf_dir, res_dir):
    """q156: banded per-frame candidates, slot aggregation,
    match_frac >= 0.6."""
    side = _load_side(f"{res_dir}/_fhashes.json")
    if side is None:
        return "skip: no _fhashes.json side output"
    if len(side["rows"]) > _MEDIA_REPLAY_BOUND:
        return "skip: corpus too large for the Python replay bound"
    return _compare_video(res_dir, con, _video_pairs(side))


def replay_incremental_video(con, sf_dir, res_dir):
    """q159: q156 restricted to video pairs touching the mod-7 batch
    (same restriction identity as q157's)."""
    side = _sibling_side(res_dir, "q156_video_frame_dedup",
                         "_fhashes.json")
    if side is None:
        return "skip: no q156_video_frame_dedup/_fhashes.json " \
               "side output"
    if len(side["rows"]) > _MEDIA_REPLAY_BOUND:
        return "skip: corpus too large for the Python replay bound"
    expected = {p: v for p, v in _video_pairs(side).items()
                if p[0] % 7 == 0 or p[1] % 7 == 0}
    return _compare_video(res_dir, con, expected)


def replay_media_clusters(con, sf_dir, res_dir):
    """q155: all three modalities' pairs (image/audio/video, ids
    namespaced) through min-id connected components; keeper = the
    component minimum; singletons keep themselves."""
    img = _sibling_side(res_dir, "q152_media_perceptual_dedup",
                        "_phashes.json")
    aud = _sibling_side(res_dir, "q154_audio_perceptual_dedup",
                        "_phashes.json")
    vid = _sibling_side(res_dir, "q156_video_frame_dedup",
                        "_fhashes.json")
    if img is None or aud is None or vid is None:
        return "skip: missing sibling fingerprint side outputs"
    if (len(img["rows"]) + len(aud["rows"]) + len(vid["rows"])
            > _MEDIA_REPLAY_BOUND):
        return "skip: corpus too large for the Python replay bound"
    pairs = list(_phash_pairs(img))
    pairs += [(a + _AUDIO_NS, b + _AUDIO_NS)
              for a, b in _phash_pairs(aud)]
    pairs += [(a + _VIDEO_NS, b + _VIDEO_NS)
              for a, b in _video_pairs(vid)]
    nodes = {r[0] for r in img["rows"]}
    nodes |= {r[0] + _AUDIO_NS for r in aud["rows"]}
    nodes |= {r[0] + _VIDEO_NS for r in vid["rows"]}
    parent = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent.get(r, r)
        c = x
        while parent.get(c, c) != c:
            parent[c], c = r, parent[c]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    expected = {}
    for n in sorted(nodes):
        lbl = find(n)
        mod = ("video" if n >= _VIDEO_NS
               else "audio" if n >= _AUDIO_NS else "image")
        expected[(mod, n % _AUDIO_NS)] = (lbl % _AUDIO_NS, n == lbl)
    rel = con.sql(f"SELECT modality, doc_id, cluster_id, is_keeper "
                  f"FROM '{res_dir}/*.parquet'")
    got = {(r[0], r[1]): (r[2], r[3]) for r in rel.fetchall()}
    if len(got) != len(expected):
        only_g = sorted(set(got) - set(expected))[:3]
        only_e = sorted(set(expected) - set(got))[:3]
        return (f"node sets differ: engine {len(got)} vs replay "
                f"{len(expected)}; engine-only {only_g}, "
                f"replay-only {only_e}")
    for k, v in expected.items():
        g = got.get(k)
        if g is None:
            return f"replay node {k} missing from engine output"
        if g != v:
            return f"node {k}: engine {g} vs replay {v}"
    return None


# --- q73 SemDeDup replay oracle (r16 verdict item 2) ------------------
# The k-means quantizer is the one stage independent Python can't
# re-derive (seeded distributed training), so Verify dumps the trained
# centroids next to the parquet; everything downstream — nearest-
# centroid assignment (squared Euclidean, first-wins argmin, the
# engine's findClosest contract) and the greedy intra-cluster cosine
# drop over id-ascending members — is a pure function of (embeddings,
# centroids, tau) and replays cell-for-cell here.

_SEMDEDUP_REPLAY_BOUND = 20000  # pure-Python O(n*k*dim + cluster^2*dim)


def replay_semdedup(con, sf_dir, res_dir):
    side = _load_side(f"{res_dir}/_centroids.json")
    if side is None:
        return "skip: no _centroids.json side output"
    vecs = _fetch_embeddings(con, sf_dir)
    if len(vecs) > _SEMDEDUP_REPLAY_BOUND:
        return "skip: corpus too large for the Python replay bound"
    cents = side["centroids"]
    tau = side["tau"]
    cells = {}
    for i in sorted(vecs):
        v = vecs[i]
        best, bd = -1, float("inf")
        for ci, c in enumerate(cents):
            d = 0.0
            for j in range(len(c)):
                t = v[j] - c[j]
                d += t * t
            if d < bd:
                bd, best = d, ci
        cells.setdefault(best, []).append(i)
    expected = []
    out = {}
    for cell, members in cells.items():
        kept = []
        for i in members:  # ascending ids — the engine's sortBy(_._1)
            v = vecs[i]
            dup = -1
            for kid, kv in kept:
                if _cosine_seq(v, kv) >= tau:
                    dup = kid
                    break
            if dup < 0:
                kept.append((i, v))
            out[i] = (cell, dup < 0, i if dup < 0 else dup)
    expected = [(i,) + out[i] for i in sorted(out)]
    rel = con.sql(f"SELECT vec_id, cell, is_kept, dup_of "
                  f"FROM '{res_dir}/*.parquet' ORDER BY vec_id")
    got = [tuple(r) for r in rel.fetchall()]
    if got != expected:
        for g, e in zip(got, expected):
            if g != e:
                return f"row diverges: engine {g} vs replay {e}"
        return f"row counts: engine {len(got)} vs replay {len(expected)}"
    return None


# --- q48/q141 IVF ANN replay oracle (r17) -----------------------------
# The q73 centroid move carried to the IVF tier: the two-level
# quantizer's k-means training is the one non-Python-derivable stage,
# so Verify dumps the coarse table and the per-coarse-cell fine
# centroid arrays from the SAME persisted index the queries serve
# from; corpus assignment (argmax cosine, ties to the larger index —
# Spark's struct array_max), query routing (top-wc coarse, top-nprobe
# fine, re-ranked by (psim desc, ccell asc, fcell asc)), candidate
# scoring and the (sim desc, id asc) top-k window all re-derive here.
# The recall GATES remain the semantic check; this is the
# implementation replay on top.

_IVF_REPLAY_BOUND = 20000


def _f32_rows(rows):
    """Dumped float32 arrays arrive as shortest-round-trip decimals;
    a raw float64 parse is NOT the float32 value — re-round every
    component so the replay computes on exactly the engine's bits."""
    return [[_f32(x) for x in r] for r in rows]


def _f32_ivf(side):
    side["coarse"] = _f32_rows(side["coarse"])
    side["fine"] = [[cc, _f32_rows(cents)] for cc, cents in side["fine"]]
    return side


def _argmax_cell(v, cents):
    # array_max over struct(sim, idx): ties favor the larger idx
    best = None
    for i, c in enumerate(cents):
        s = (_cosine_seq(v, c), i)
        if best is None or s > best:
            best = s
    return best[1]


def _ivf_assign(vecs, side):
    """{(ccell, fcell): [ids]} — the index's corpus assignment
    (coarse argmax then fine argmax within the coarse cell)."""
    coarse = side["coarse"]
    fine = {cc: cents for cc, cents in side["fine"]}
    assigned = {}
    for i in sorted(vecs):
        cc = _argmax_cell(vecs[i], coarse)
        fc = _argmax_cell(vecs[i], fine[cc])
        assigned.setdefault((cc, fc), []).append(i)
    return assigned


def _ivf_probes(qv, side, nprobe):
    """The query's probed (ccell, fcell) set — Ann.routeQueries'
    top-wc coarse / top-nprobe fine / (psim desc, ccell, fcell)
    window, re-derived."""
    coarse = side["coarse"]
    fine = {cc: cents for cc, cents in side["fine"]}
    wc = max(2, min(side["kc"], math.ceil(nprobe / 2)))
    # sort_array(desc) on struct(csim, ccell): ties favor larger cell
    cscored = sorted(((_cosine_seq(qv, c), i)
                      for i, c in enumerate(coarse)), reverse=True)[:wc]
    probes = []
    for _, cc in cscored:
        fscored = sorted(((_cosine_seq(qv, c), i)
                          for i, c in enumerate(fine[cc])),
                         reverse=True)[:nprobe]
        probes += [(psim, cc, fc) for psim, fc in fscored]
    probes.sort(key=lambda t: (-t[0], t[1], t[2]))
    return {(cc, fc) for _, cc, fc in probes[:nprobe]}


def _ivf_replay(con, sf_dir, res_dir, nprobe, label_filter):
    side = _load_side(f"{res_dir}/_ivf_index.json")
    if side is None:
        return "skip: no _ivf_index.json side output"
    side = _f32_ivf(side)
    rows = con.sql(f"SELECT vec_id, embedding, label "
                   f"FROM '{sf_dir}/embeddings.parquet'").fetchall()
    if len(rows) > _IVF_REPLAY_BOUND:
        return "skip: corpus too large for the Python replay bound"
    vecs = {r[0]: r[1] for r in rows}
    labels = {r[0]: r[2] for r in rows}
    k = side["k"]
    assigned = _ivf_assign(vecs, side)
    expected = []
    for q in sorted(i for i in vecs if i < _ANN_QUERIES):
        qv = vecs[q]
        probeset = _ivf_probes(qv, side, nprobe)
        cands = set()
        for cell in probeset:
            for n in assigned.get(cell, []):
                if n == q:
                    continue
                if label_filter and labels[n] != labels[q]:
                    continue
                cands.add(n)
        scored = sorted(((_cosine_seq(qv, vecs[n]), n) for n in cands),
                        key=lambda t: (-t[0], t[1]))[:k]
        for rank, (sim, n) in enumerate(scored, 1):
            expected.append((q, n, _round_half_up4(sim), rank))
    rel = con.sql(f"SELECT query_id, neighbor_id, sim, rank "
                  f"FROM '{res_dir}/*.parquet' ORDER BY query_id, rank")
    got = [tuple(r) for r in rel.fetchall()]
    if got != expected:
        for g, e in zip(got, expected):
            if g != e:
                return f"row diverges: engine {g} vs replay {e}"
        return f"row counts: engine {len(got)} vs replay {len(expected)}"
    return None


def replay_ann_ivf(con, sf_dir, res_dir):
    """q48: two-level IVF, nprobe=10, top-5."""
    return _ivf_replay(con, sf_dir, res_dir, nprobe=10,
                       label_filter=False)


def replay_ann_filtered_ivf(con, sf_dir, res_dir):
    """q141: the same index with the label equality filter, nprobe=12."""
    return _ivf_replay(con, sf_dir, res_dir, nprobe=12,
                       label_filter=True)


# --- q84/q136/q139 PQ replay oracles (r17) -----------------------------
# The M per-subspace k-means fits are the non-Python-derivable stage;
# given the dumped codebooks (and, for the IVF-routed members, the
# dumped IVF index), normalization, code assignment (euclidean argmin,
# ties to the lowest index — the engine's encodeAgainst struct trick
# and KMeansModel.predict agree on that rule), LUT construction, ADC
# scoring, shortlisting and the exact re-rank all re-derive here. The
# recall gates stay the semantic check.


def _pq_normalize(v):
    s = 0.0
    for x in v:
        s += x * x
    n = max(math.sqrt(s), 1e-30)
    return [x / n for x in v]


def _pq_codes(nv, books, sub_dim):
    codes = []
    for m, book in enumerate(books):
        sub = nv[m * sub_dim:(m + 1) * sub_dim]
        best = None
        for i, c in enumerate(book):
            d = 0.0
            for j in range(sub_dim):
                t = sub[j] - c[j]
                d += t * t
            key = (-d, -i)  # ties -> lowest centroid index
            if best is None or key > best:
                best = key
        codes.append(-best[1])
    return codes


def _pq_luts(qv, books, sub_dim):
    luts = []
    for m, book in enumerate(books):
        row = []
        for c in book:
            s = 0.0
            for i in range(sub_dim):
                s += qv[m * sub_dim + i] * c[i]
            row.append(s)
        luts.append(row)
    return luts


def _adc(luts, codes):
    s = luts[0][codes[0]]
    for m in range(1, len(codes)):
        s = s + luts[m][codes[m]]
    return s


def _pq_rank(con, res_dir, expected):
    rel = con.sql(f"SELECT query_id, neighbor_id, sim, rank "
                  f"FROM '{res_dir}/*.parquet' ORDER BY query_id, rank")
    got = [tuple(r) for r in rel.fetchall()]
    if got != expected:
        for g, e in zip(got, expected):
            if g != e:
                return f"row diverges: engine {g} vs replay {e}"
        return f"row counts: engine {len(got)} vs replay {len(expected)}"
    return None


def replay_ann_pq(con, sf_dir, res_dir):
    """q84: flat ADC over the whole code table, shortlistFor(n)
    shortlist, exact cosine re-rank, top-5."""
    side = _load_side(f"{res_dir}/_pq_books.json")
    if side is None:
        return "skip: no _pq_books.json side output"
    vecs = _fetch_embeddings(con, sf_dir)
    if len(vecs) > _IVF_REPLAY_BOUND:
        return "skip: corpus too large for the Python replay bound"
    books, sd, k = side["books"], side["sub_dim"], side["k"]
    n = len(vecs)
    shortlist = max(64, min(1024, n // 8))
    codes = {i: _pq_codes(_pq_normalize(vecs[i]), books, sd)
             for i in vecs}
    expected = []
    for q in sorted(i for i in vecs if i < _ANN_QUERIES):
        luts = _pq_luts(vecs[q], books, sd)
        # shortlist window: adc desc, neighbor_id asc
        scored = sorted((-_adc(luts, codes[i]), i)
                        for i in vecs if i != q)[:shortlist]
        rer = sorted(((_cosine_seq(vecs[q], vecs[i]), i)
                      for _, i in scored),
                     key=lambda t: (-t[0], t[1]))[:k]
        expected += [(q, i, _round_half_up4(s), r)
                     for r, (s, i) in enumerate(rer, 1)]
    return _pq_rank(con, res_dir, expected)


def _adc_search_replay(vecs, cell_members, codes, queries, ivf_side,
                       books, sd, k, nprobe):
    """Pq.adcSearch re-derived: route, ADC-score probed cells'
    members, shortlist (max(64, nprobe*1000/8)), exact re-rank."""
    shortlist = max(64, nprobe * 1000 // 8)
    expected = []
    for q in queries:
        qv = vecs[q]
        probeset = _ivf_probes(qv, ivf_side, nprobe)
        luts = _pq_luts(qv, books, sd)
        cands = set()
        for cell in probeset:
            for i in cell_members.get(cell, []):
                if i != q:
                    cands.add(i)
        scored = sorted((-_adc(luts, codes[i]), i) for i in cands)[
            :shortlist]
        rer = sorted(((_cosine_seq(qv, vecs[i]), i) for _, i in scored),
                     key=lambda t: (-t[0], t[1]))[:k]
        expected += [(q, i, _round_half_up4(s), r)
                     for r, (s, i) in enumerate(rer, 1)]
    return expected


def replay_ann_ivfpq(con, sf_dir, res_dir):
    """q136: IVFADC — IVF routing (dumped index) + ADC over probed
    cells' codes (dumped books) + exact re-rank, nprobe=8."""
    ivf = _load_side(f"{res_dir}/_ivf_index.json")
    pq = _load_side(f"{res_dir}/_pq_books.json")
    if ivf is None or pq is None:
        return "skip: missing _ivf_index.json/_pq_books.json"
    ivf = _f32_ivf(ivf)
    vecs = _fetch_embeddings(con, sf_dir)
    if len(vecs) > _IVF_REPLAY_BOUND:
        return "skip: corpus too large for the Python replay bound"
    books, sd, k = pq["books"], pq["sub_dim"], pq["k"]
    cell_members = _ivf_assign(vecs, ivf)
    codes = {i: _pq_codes(_pq_normalize(vecs[i]), books, sd)
             for i in vecs}
    queries = sorted(i for i in vecs if i < _ANN_QUERIES)
    expected = _adc_search_replay(vecs, cell_members, codes, queries,
                                  ivf, books, sd, k, nprobe=8)
    return _pq_rank(con, res_dir, expected)


def replay_ivfpq_incremental(con, sf_dir, res_dir):
    """q139: the mod10 standing corpus's codes plus the frozen-index-
    encoded delta (vec_id % 10 == 0), searched by the delta itself at
    nprobe=10 — the append lifecycle's serving identity, re-derived
    from the dumped standing index + frozen codebooks."""
    ivf = _load_side(f"{res_dir}/_ivf_index.json")
    pq = _load_side(f"{res_dir}/_pq_books.json")
    if ivf is None or pq is None:
        return "skip: missing _ivf_index.json/_pq_books.json"
    ivf = _f32_ivf(ivf)
    vecs = _fetch_embeddings(con, sf_dir)
    if len(vecs) > _IVF_REPLAY_BOUND:
        return "skip: corpus too large for the Python replay bound"
    books, sd, k = pq["books"], pq["sub_dim"], pq["k"]
    # both the standing corpus and the delta assign through the same
    # frozen quantizer (Ann.assignVectors == build-time assignment)
    cell_members = _ivf_assign(vecs, ivf)
    codes = {i: _pq_codes(_pq_normalize(vecs[i]), books, sd)
             for i in vecs}
    queries = sorted(i for i in vecs if i % 10 == 0)
    expected = _adc_search_replay(vecs, cell_members, codes, queries,
                                  ivf, books, sd, k, nprobe=10)
    return _pq_rank(con, res_dir, expected)


# --- q20/q22/q23/q24 ALS serving replay oracles (r17) -----------------
# The ALS fit is the non-replayable stage (distributed float
# reductions), and q21's output IS the factor table (replaying it
# would compare the dump to itself — it stays gate-only). Serving
# from the factors is pure: float32 dot-product scoring (emulated
# bit-exactly — f64 ops on f32-exact values rounded back to f32 per
# step), top-K windows, the factor cosine matrix, and held-out RMSE
# all re-derive here from Verify's `_als_factors.json` /
# `_als_eval.json` dumps. The RMSE gate stays the semantic check.


def _sdot32(a, b):
    """Bit-exact float32 sequential dot: every multiply and add
    rounds to float32 (a float64 op on f32-exact inputs is exact, so
    rounding the result IS the f32 op)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = _f32(acc + _f32(x * y))
    return acc


def replay_als_user_recs(con, sf_dir, res_dir):
    """q20: score grid = f32 user·item dots via BLAS gemm, top-K per
    user by (score desc); flattened with 1-based rank. The gemm's
    f32 accumulation ORDER is BLAS-implementation-specific (lane
    splits; measured divergence vs any fixed order ≤ ~1e-6
    relative), so ids and ranks compare exactly and the score gets a
    tight relative epsilon — the match_frac treatment."""
    side = _load_side(f"{res_dir}/_als_factors.json")
    if side is None:
        return "skip: no _als_factors.json side output"
    users = [(i, [_f32(x) for x in f]) for i, f in side["user"]]
    items = [(i, [_f32(x) for x in f]) for i, f in side["item"]]
    topk = side["top_k"]
    if len(users) * len(items) > 50000000:
        return "skip: grid too large for the Python replay bound"
    expected = []
    for uid, uf in sorted(users):
        scored = []
        for iid, itf in items:
            d = 0.0
            for x, y in zip(uf, itf):
                d += x * y
            scored.append((-d, iid))
        scored.sort()
        for rank, (neg, iid) in enumerate(scored[:topk], 1):
            expected.append((uid, rank, iid, -neg))
    rel = con.sql(f"SELECT user_id, rank, product_id, score "
                  f"FROM '{res_dir}/*.parquet' ORDER BY user_id, rank")
    got = [tuple(r) for r in rel.fetchall()]
    if len(got) != len(expected):
        return f"row counts: engine {len(got)} vs replay {len(expected)}"
    for g, e in zip(got, expected):
        if g[:3] != e[:3]:
            return f"row diverges: engine {g} vs replay {e}"
        if abs(g[3] - e[3]) > 1e-5 * max(abs(e[3]), 1.0):
            return f"score diverges past epsilon: engine {g} vs {e}"
    return None


def replay_item_sims(con, sf_dir, res_dir):
    """q22: exact item-item factor cosine, round 6, threshold > 0.6,
    top-20 per product by (sim desc, id asc)."""
    side = _load_side(f"{res_dir}/_als_factors.json")
    if side is None:
        return "skip: no _als_factors.json side output"
    items = [(i, [_f32(x) for x in f]) for i, f in side["item"]]
    topk, thr = side["top_k"], side["sim_threshold"]
    if len(items) > 10000:
        return "skip: catalog too large for the exact-regime replay"
    expected = []
    for pa, fa in sorted(items):
        sims = []
        for pb, fb in items:
            if pb == pa:
                continue
            sim = _round_half_up(_cosine_seq(fa, fb), 6)
            if sim > thr:
                sims.append((sim, pb))
        sims.sort(key=lambda t: (-t[0], t[1]))
        for rank, (sim, pb) in enumerate(sims[:topk], 1):
            expected.append((pa, pb, sim, rank))
    rel = con.sql(f"SELECT product_id, sim_product_id, sim, rank "
                  f"FROM '{res_dir}/*.parquet' ORDER BY product_id, rank")
    got = [tuple(r) for r in rel.fetchall()]
    if got != expected:
        for g, e in zip(got, expected):
            if g != e:
                return f"row diverges: engine {g} vs replay {e}"
        return f"row counts: engine {len(got)} vs replay {len(expected)}"
    return None


def _als_rmse(combo, test):
    """Held-out RMSE from one combo's factors: f32 prediction dots,
    cold-start rows dropped (no factor == unseen in training),
    sequential double mean. NaN on an all-cold-start test set — the
    engine's evaluator answer for the same degenerate input."""
    uf = {u: [_f32(x) for x in f] for u, f in combo["user"]}
    itf = {i: [_f32(x) for x in f] for i, f in combo["item"]}
    sse, n = 0.0, 0
    for u, p, score in test:
        if u in uf and p in itf:
            e = _sdot32(uf[u], itf[p]) - score
            sse += e * e
            n += 1
    return math.sqrt(sse / n) if n else float("nan")


# Engine RMSE is round-6 of a treeAggregated mean whose prediction
# dots may lane-split like q20's gemm; the replay's sequential sum
# agrees to ~1e-9, so the rounded value can only differ when the raw
# sits within that slack of a rounding boundary. Compare with the
# rounding half-width plus slack instead of exact equality (the
# match_frac lesson — never exact-compare two legitimately different
# float computations).
_RMSE_TOL = 5.1e-7


def replay_als_rmse(con, sf_dir, res_dir):
    """q23: the production combo's held-out RMSE, round 6."""
    side = _load_side(f"{res_dir}/_als_eval.json")
    if side is None:
        return "skip: no _als_eval.json side output"
    raw = _als_rmse(side["combos"][0], side["test"])
    got = [tuple(r) for r in con.sql(
        f"SELECT rmse FROM '{res_dir}/*.parquet'").fetchall()]
    if len(got) != 1 or abs(got[0][0] - raw) > _RMSE_TOL:
        return f"engine {got} vs replay raw {raw}"
    return None


def replay_als_grid(con, sf_dir, res_dir):
    """q24: every combo's held-out RMSE, ordered (rmse, rank, reg)."""
    side = _load_side(f"{res_dir}/_als_eval.json")
    if side is None:
        return "skip: no _als_eval.json side output"
    rows = [(c["rank"], c["reg"], _als_rmse(c, side["test"]))
            for c in side["combos"]]
    expected = sorted(rows, key=lambda t: (t[2], t[0], t[1]))
    got = [tuple(r) for r in con.sql(
        f"SELECT rank, reg_param, rmse FROM '{res_dir}/*.parquet' "
        f"ORDER BY rmse, rank, reg_param").fetchall()]
    if len(got) != len(expected):
        return f"row counts: engine {len(got)} vs replay {len(expected)}"
    for g, e in zip(got, expected):
        if g[:2] != e[:2] or abs(g[2] - e[2]) > _RMSE_TOL:
            return f"row diverges: engine {g} vs replay {e}"
    return None


# --- q77 quality-classifier replay oracle (r17) -----------------------
# The L-BFGS fit is the one non-Python-derivable stage; given the
# dumped coefficients/intercept, feature extraction (raw surface
# counts over the documents table), heuristic labeling, the margin
# dot-product, the sigmoid, the 0.5-threshold prediction and the
# 4-dp rounding are pure functions replayed here. The held-out-AUC
# gate stays the semantic check.


def replay_quality_classifier(con, sf_dir, res_dir):
    side = _load_side(f"{res_dir}/_lr_model.json")
    if side is None:
        return "skip: no _lr_model.json side output"
    docs = con.sql(f"SELECT doc_id, text, n_chars "
                   f"FROM '{sf_dir}/documents.parquet' "
                   f"ORDER BY doc_id").fetchall()
    if len(docs) > 20000:
        return "skip: corpus too large for the Python replay bound"
    coef = side["coefficients"]
    b = side["intercept"]
    thr = side["label_threshold"]
    stop = set(side["stopwords"])
    expected = []
    for doc_id, text, n_chars in docs:
        toks = text.split(" ")  # Spark split(text, " "), limit -1
        n_words = len(toks)
        stop_cnt = sum(1 for t in toks if t in stop)
        punct = sum(1 for ch in text if ch in ".,;:!?")
        digits = sum(1 for ch in text if ch in "0123456789")
        feats = [float(n_words), float(stop_cnt), float(n_chars),
                 float(punct), float(digits), n_chars / max(n_words, 1)]
        label = int(0.5 * (stop_cnt / n_words) +
                    0.5 * min(n_words / 100.0, 1.0) >= thr)
        margin = 0.0
        for i in range(len(coef)):  # sequential — the BLAS ddot order
            margin += coef[i] * feats[i]
        margin += b
        p = 1.0 / (1.0 + math.exp(-margin))
        pred = int(p > 0.5)  # Spark's strict probability > threshold
        expected.append((doc_id, label, pred, _round_half_up4(p)))
    got = [tuple(r) for r in con.sql(
        f"SELECT doc_id, label, predicted, p_good "
        f"FROM '{res_dir}/*.parquet' ORDER BY doc_id").fetchall()]
    if got != expected:
        for g, e in zip(got, expected):
            if g != e:
                return f"row diverges: engine {g} vs replay {e}"
        return f"row counts: engine {len(got)} vs replay {len(expected)}"
    return None


# --- q26 multimodal-features replay oracle (r16 verdict item 2) -------
# Stronger than a side-output replay: the fixture pixel/PCM formulas
# are pure functions of doc_id, and the PNG/WAV containers round-trip
# losslessly through the JDK codecs, so EVERY post-decode cell —
# dimensions, channel/frame counts, and the per-channel-mean embedding
# — re-derives here from the public formulas alone, with no engine
# side output at all. The one encoder-specific cell is the PNG
# container byte size (the JDK writer's deflate output): bounded, not
# replayed; WAV's canonical 44-byte-header size IS exact.

_Q26_REPLAY_BOUND = 20000  # pure-Python per-pixel loops


def _f32(x):
    import struct
    return struct.unpack("<f", struct.pack("<f", x))[0]


def replay_multimodal_features(con, sf_dir, res_dir):
    ids = [r[0] for r in con.sql(
        f"SELECT doc_id FROM '{sf_dir}/documents.parquet' "
        f"ORDER BY doc_id").fetchall()]
    if len(ids) > _Q26_REPLAY_BOUND:
        return "skip: corpus too large for the Python replay bound"
    expected = []
    for i in ids:
        if i % 2 == 0:
            w, h = 16 + i % 16, 16 + (i // 16) % 16
            sums = [0, 0, 0]
            for y in range(h):
                for x in range(w):
                    sums[0] += (i + x * 31 + y * 7) & 0xFF
                    sums[1] += ((i >> 8) + x * 13 + y * 3) & 0xFF
                    sums[2] += ((i >> 16) + x + y * 17) & 0xFF
            emb = [_f32(s / (w * h) / 255.0) for s in sums] + [0.0] * 5
            expected.append((i, "image/png", None, True, w, h, 3, 1, emb))
        else:
            ch, fr = 1 + i % 2, 64 + i % 64
            sums = [0] * ch
            for j in range(fr * ch):
                v = ((i * 2654435761 + j * 40503) % 2000) - 1000
                sums[j % ch] += abs(v)
            emb = ([_f32(s / fr / 32768.0) for s in sums] +
                   [0.0] * (8 - ch))
            expected.append((i, "audio/wav", 44 + fr * ch * 2, True,
                             0, 0, ch, fr, emb))
    rel = con.sql(f"SELECT doc_id, mime, n_bytes, decoded, width, "
                  f"height, channels, frames, embedding "
                  f"FROM '{res_dir}/*.parquet' ORDER BY doc_id")
    got = rel.fetchall()
    if len(got) != len(expected):
        return f"row counts: engine {len(got)} vs replay {len(expected)}"
    for g, e in zip(got, expected):
        # embedding: the engine emits to_json of float32s (Jackson's
        # shortest-round-trip decimals); parse and re-round through
        # float32 — equality is then exact, no epsilon
        gemb = [_f32(x) for x in json.loads(g[8])]
        if gemb != e[8]:
            return f"doc {g[0]} embedding: engine {gemb} vs replay {e[8]}"
        if e[2] is None:
            # PNG container size is encoder-specific: bound it (a
            # syntactically-minimal PNG is 67 bytes; raster deflate
            # only adds) instead of replaying the JDK's deflate
            if not (isinstance(g[2], int) and g[2] > 67):
                return f"doc {g[0]} png n_bytes implausible: {g[2]}"
            if tuple(g[:2]) + tuple(g[3:8]) != (e[0], e[1]) + e[3:8]:
                return f"doc {g[0]}: engine {g[:8]} vs replay {e[:8]}"
        elif tuple(g[:8]) != e[:8]:
            return f"doc {g[0]}: engine {g[:8]} vs replay {e[:8]}"
    return None


# --- q109 BPE replay oracle ------------------------------------------
# BPE learning is iterative and not ANSI-expressible, so q109 can't
# get a DuckDB oracle — but greedy BPE is a pure function of the
# corpus, so this INDEPENDENT Python reimplementation (learning AND
# tokenization, sharing no code with the Scala engine) replays the
# whole query and compares exactly: the learned merge list against
# the _merges.json side output Verify drops into the result dir, and
# every output row cell-for-cell (r14 verdict item 3).

def _merge_pair(syms, l, r):
    # simultaneous left-to-right replacement of every adjacent (l, r)
    out = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_learn(word_freq, num_merges):
    vocab = [(list(w), f) for w, f in word_freq.items() if len(w) > 1]
    merges = []
    for rank in range(num_merges):
        counts = {}
        for syms, f in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        # argmax: count DESC, pair ASC — Spark compares strings as
        # UTF8String (unsigned byte-wise), so tie-break on UTF-8 bytes
        (l, r), _ = min(counts.items(),
                        key=lambda kv: (-kv[1], kv[0][0].encode("utf-8"),
                                        kv[0][1].encode("utf-8")))
        merges.append({"rank": rank, "left": l, "right": r})
        vocab = [(_merge_pair(syms, l, r), f) for syms, f in vocab
                 if len(syms) > 1]
    return merges


def _bpe_encode_len(word, ranks):
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_l, best_r = None, None, None
        for i in range(len(syms) - 1):
            rk = ranks.get((syms[i], syms[i + 1]))
            if rk is not None and (best_rank is None or rk < best_rank):
                best_rank, best_l, best_r = rk, syms[i], syms[i + 1]
        if best_rank is None:
            break
        syms = _merge_pair(syms, best_l, best_r)
    return len(syms)


def replay_bpe(con, sf_dir, res_dir):
    """Full q109 replay. Returns None on success, an error string on
    mismatch, or a skip reason prefixed 'skip:'."""
    merges_path = f"{res_dir}/_merges.json"
    if not os.path.exists(merges_path):
        return "skip: no _merges.json side output"
    side = json.load(open(merges_path))
    docs = con.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    # the Scala engine symbol-splits on UTF-16 code units; this replay
    # splits on code points — identical for BMP text, divergent past
    # it, so refuse rather than mis-verify
    if any(ord(c) > 0xFFFF for _, t in docs for c in t):
        return "skip: corpus has non-BMP chars (UTF-16 split divergence)"
    word_freq = {}
    doc_words = []
    for doc_id, text in docs:
        ws = [w for w in text.split(" ") if w]
        doc_words.append((doc_id, ws))
        for w in ws:
            word_freq[w] = word_freq.get(w, 0) + 1
    merges = _bpe_learn(word_freq, side["requested"])
    got_merges = [{"rank": m["rank"], "left": m["left"],
                   "right": m["right"]} for m in side["merges"]]
    if merges != got_merges:
        for a, b in zip(merges, got_merges):
            if a != b:
                return f"merge lists diverge at rank {a['rank']}: " \
                       f"replay {a} vs engine {b}"
        return f"merge list lengths differ: replay {len(merges)} " \
               f"vs engine {len(got_merges)}"
    ranks = {(m["left"], m["right"]): m["rank"] for m in merges}
    tok_len = {w: _bpe_encode_len(w, ranks) for w in word_freq}
    expected = {}
    for doc_id, ws in doc_words:
        n_bpe = sum(tok_len[w] for w in ws)
        n_chars = sum(len(w) for w in ws)
        expected[doc_id] = (n_bpe, len(ws), n_chars, n_chars / n_bpe)
    rel = con.sql(f"SELECT * FROM '{res_dir}/*.parquet'")
    cols = [d[0] for d in rel.description]
    idx = {c: cols.index(c) for c in
           ("doc_id", "n_bpe_tokens", "n_words", "n_chars",
            "chars_per_token")}
    got = rel.fetchall()
    if len(got) != len(expected):
        return f"rows: engine {len(got)} vs replay {len(expected)}"
    for row in got:
        d = row[idx["doc_id"]]
        exp = expected.get(d)
        act = (row[idx["n_bpe_tokens"]], row[idx["n_words"]],
               row[idx["n_chars"]], row[idx["chars_per_token"]])
        if exp is None or act != exp:
            return f"doc {d}: engine {act} vs replay {exp}"
    return None


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    _preflight_map_count(sf_dir)
    con = connect(sf_dir)
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = []
    for name, sql in sorted(oracles.items()):
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            failures.append((name, "no spark output written"))
            continue
        def run_query(c):
            g = c.sql(f"SELECT * FROM '{res_dir}/*.parquet'").fetchall()
            gc = [d[0] for d in c.sql(
                f"SELECT * FROM '{res_dir}/*.parquet' LIMIT 0").description]
            rel = c.sql(sql)
            e = rel.fetchall()
            ec = [d[0] for d in rel.description]
            return g, gc, e, ec
        try:
            got, got_cols, exp, exp_cols = run_query(con)
        except duckdb.OutOfMemoryException:
            # Kilobyte-sized blocks failing on a 120-GB-free host:
            # per-process vm.max_map_count exhaustion (default 65530)
            # after a heavy query fragments the allocator - every
            # later mmap ENOMEMs regardless of free RAM. Raise the
            # sysctl (vm.max_map_count=1048576) where possible; this
            # fresh-connection retry is the in-tool fallback - a real
            # memory hog fails again and is reported.
            try:
                con.close()
            except Exception:
                pass
            con = connect(sf_dir)
            try:
                got, got_cols, exp, exp_cols = run_query(con)
            except Exception as e:
                failures.append((name, f"oracle SQL failed: {e}"))
                continue
        except Exception as e:
            failures.append((name, f"oracle SQL failed: {e}"))
            continue
        if sorted(got_cols) != sorted(exp_cols):
            failures.append((name, f"schema: {got_cols} vs {exp_cols}"))
            continue
        if len(got) != len(exp):
            failures.append((name, f"rows: {len(got)} vs {len(exp)}"))
            continue
        # align column order by sorted name (driver sorts by name)
        gperm = [got_cols.index(c) for c in sorted(got_cols)]
        eperm = [exp_cols.index(c) for c in sorted(exp_cols)]
        bad = 0
        first = None
        for i, (g, e) in enumerate(zip(got, exp)):
            for gi, ei in zip(gperm, eperm):
                a, b = g[gi], e[ei]
                if a is None and b is None:
                    continue
                if isinstance(a, float) and isinstance(b, float):
                    if a != b and not (math.isnan(a) and math.isnan(b)):
                        # driver hashes — exact match needed; report any diff
                        bad += 1
                        if first is None:
                            first = (i, sorted(got_cols)[gperm.index(gi)] if False else got_cols[gi], a, b)
                        break
                elif a != b:
                    bad += 1
                    if first is None:
                        first = (i, got_cols[gi], a, b)
                    break
        if bad:
            failures.append((name, f"{bad}/{len(got)} rows differ; first: row {first[0]} col {first[1]}: {first[2]!r} vs {first[3]!r}"))
        else:
            print(f"OK    {name} ({len(got)} rows)")
    # queries with no oracle: rows-only check — except the replayable
    # family, whose deterministic semantics get a full independent
    # Python reimplementation (learning/hashing/banding/verify),
    # compared cell-for-cell
    replays = {
        "q109_bpe_tokens": ("BPE", replay_bpe),
        "q31_dedup_minhash_lsh": ("minhash-LSH", replay_minhash_lsh),
        "q49_dedup_clusters": ("LSH-CC labeling", replay_cluster_labels),
        "q32_dedup_simhash": ("simhash", replay_simhash),
        "q75_incremental_neardup":
            ("incremental near-dup", replay_incremental_neardup),
        "q36_ann_lsh": ("hyperplane-LSH ANN", replay_ann_lsh),
        "q119_dim_recall": ("dim-ablation recall", replay_dim_recall),
        "q152_media_perceptual_dedup":
            ("image perceptual-dedup", replay_media_dedup),
        "q154_audio_perceptual_dedup":
            ("audio perceptual-dedup", replay_audio_dedup),
        "q155_media_dup_clusters":
            ("media dup-cluster", replay_media_clusters),
        "q156_video_frame_dedup":
            ("video frame-dedup", replay_video_dedup),
        "q157_incremental_media_dedup":
            ("incremental media-dedup", replay_incremental_media),
        "q158_incremental_audio_dedup":
            ("incremental audio-dedup", replay_incremental_audio),
        "q159_incremental_video_dedup":
            ("incremental video-dedup", replay_incremental_video),
        "q73_semdedup": ("SemDeDup", replay_semdedup),
        "q26_multimodal_features":
            ("multimodal feature derivation", replay_multimodal_features),
        "q48_ann_ivf": ("two-level IVF ANN", replay_ann_ivf),
        "q141_ann_filtered_ivf":
            ("filtered IVF ANN", replay_ann_filtered_ivf),
        "q77_quality_classifier":
            ("LR quality scoring", replay_quality_classifier),
        "q84_ann_pq": ("flat-ADC PQ ANN", replay_ann_pq),
        "q136_ann_ivfpq": ("IVFADC", replay_ann_ivfpq),
        "q139_ivfpq_incremental":
            ("incremental IVFADC", replay_ivfpq_incremental),
        "q20_als_user_recs": ("ALS rec serving", replay_als_user_recs),
        "q22_item_sim_cosine":
            ("factor-cosine similarity", replay_item_sims),
        "q23_als_rmse": ("held-out RMSE evaluation", replay_als_rmse),
        "q24_als_grid_search":
            ("grid RMSE evaluation", replay_als_grid),
    }
    # Expected-replay manifest: a skipped or missing replay must FAIL
    # the run, not silently demote to OK(rows) — one renamed dump
    # field would otherwise turn 25 cell-for-cell replays into
    # rows-only checks with no gate tripping. The manifest is keyed
    # by the sf_dir basename; unknown dirs (scale-sweep replica dirs)
    # carry no expectations.
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    manifest_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "replay_manifest.json")
    expected_replays = set()
    if os.path.exists(manifest_path):
        expected_replays = set(
            json.load(open(manifest_path)).get(sf_name, []))
    # A SPARK_GRAFT_ONLY subset expects only the replays it selected;
    # a selected query that failed to dump still fails below. Dumps
    # without the list (older runs) keep the full expectation.
    selected_path = os.path.join(out_dir, "selected.json")
    if os.path.exists(selected_path):
        expected_replays &= set(json.load(open(selected_path)))
    replay_outcome = {}  # name -> None (OK) | skip/err string
    for res in sorted(glob.glob(f"{out_dir}/*/")):
        name = res.rstrip("/").split("/")[-1]
        if name in oracles:
            continue
        n = con.sql(f"SELECT count(*) FROM '{res}/*.parquet'").fetchone()[0]
        if name in replays and n > 0:
            label, fn = replays[name]
            try:
                err = fn(con, sf_dir, res.rstrip("/"))
            except ImportError as e:
                # numpy-less host: degrade to rows-only, don't fail
                # (the manifest still flags it if this SF expects the
                # replay — a silent numpy loss must not green-wash 25
                # cell-level checks)
                err = f"skip: {e}"
            except Exception as e:
                # Any other exception (a renamed dump field raising
                # KeyError, a schema drift raising TypeError, ...) is
                # a replay FAILURE for THIS query, not a reason to
                # crash the whole gate mid-loop and skip the remaining
                # queries plus the DEGRADED/FAILURES summary.
                err = f"replay crashed: {type(e).__name__}: {e}"
            replay_outcome[name] = err
            if err is None:
                print(f"OK(replay) {name} ({n} rows, every cell matches "
                      f"the independent Python {label})")
            elif err.startswith("skip:"):
                print(f"OK(rows)  {name} ({n} rows; replay {err})")
            else:
                failures.append((name, f"{label} replay mismatch: {err}"))
            continue
        status = "OK(rows)" if n > 0 else "EMPTY"
        print(f"{status:9s} {name} ({n} rows)")
        if n == 0:
            failures.append((name, "rows-only check: 0 rows"))
    degraded = []
    for name in sorted(expected_replays):
        if name not in replay_outcome:
            degraded.append((name, "query output missing or empty — "
                             "replay never attempted"))
        elif replay_outcome[name] is not None \
                and replay_outcome[name].startswith("skip:"):
            degraded.append((name, replay_outcome[name]))
    if degraded:
        print(f"\nDEGRADED: {len(degraded)} expected replay(s) for "
              f"{sf_name} did not produce OK(replay):")
        for name, why in degraded:
            print(f"DEGRADED  {name}: {why}")
            failures.append((name, f"expected replay degraded: {why}"))
    if failures:
        print("\nFAILURES:")
        for n, msg in failures:
            print(f"FAIL  {n}: {msg}")
        sys.exit(1)
    print("\nall green")

if __name__ == "__main__":
    main()
