#!/usr/bin/env python3
"""Local pre-validation of SparkEntry oracles: run DuckDB on oracle_sql.json
against the same parquet tables, compare to the Spark outputs Verify dumped
(`runMain graft.Verify <sfDir> <outDir> [query ...]`; with named queries the
dump also writes names.json and only those queries are checked).

Usage: python3 tools/check.py <sfDir> <outDir>
"""
import json, sys, glob
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: ints (incl. duckdb hugeint->object/float) -> int64 where lossless
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            try:
                as_num = pd.to_numeric(s, errors="raise")
                df[c] = as_num
                s = df[c]
            except (ValueError, TypeError):
                pass
        if pd.api.types.is_float_dtype(s):
            nn = s.dropna()
            if len(nn) and (nn == nn.round()).all() and nn.abs().max() < 2**53:
                pass  # keep float; compare numerically below
    df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def compare(name, spark_df, duck_df):
    # Dtype strictness FIRST, before normalize()'s to_numeric coercion: the
    # driver's canonical hash includes dtypes, so a Spark int64 against a
    # DuckDB HUGEINT (which pandas receives as float64/object) fails there
    # even when every value is identical. Mirror that here so the local loop
    # can't pass what the driver fails (the round-4 q115/q118 asymmetry).
    KIND = {"i": "int", "u": "int", "f": "float", "b": "bool"}
    for c in sorted(set(spark_df.columns) & set(duck_df.columns)):
        kx = KIND.get(spark_df[c].dtype.kind, "other")
        ky = KIND.get(duck_df[c].dtype.kind, "other")
        if kx != ky:
            return (f"DTYPE col={c} spark={spark_df[c].dtype} "
                    f"duck={duck_df[c].dtype} (driver hash would fail)")
    a, b = normalize(spark_df), normalize(duck_df)
    if list(a.columns) != list(b.columns):
        return f"COLS  spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS  spark={len(a)} duck={len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            x = pd.to_numeric(x, errors="coerce").astype(float)
            y = pd.to_numeric(y, errors="coerce").astype(float)
            neq = ~((x.isna() & y.isna()) | (x == y))
            if neq.any():
                i = neq.idxmax()
                exact = f"VAL   col={c} row={i} spark={a[c][i]!r} duck={b[c][i]!r} ({int(neq.sum())} diffs)"
                close = ((x - y).abs() / (1 + y.abs())).max()
                return exact + f" maxrel={close:.2e}"
        else:
            neq = ~((x.isna() & y.isna()) | (x.astype(str) == y.astype(str)))
            if neq.any():
                i = neq.idxmax()
                return f"VAL   col={c} row={i} spark={a[c][i]!r} duck={b[c][i]!r} ({int(neq.sum())} diffs)"
    return None


# ---------- Python-side oracles for engine-hash queries ----------
# These queries have no DuckDB-expressible oracle (keyed BLAKE2 digests,
# xxhash64-derived fingerprints). Each is recomputed here INDEPENDENTLY:
# BLAKE2 via hashlib (RFC 7693, what the reference's Python uses), xxhash64
# via a from-scratch pure-Python XXH64 — no Spark code involved.

import hashlib

_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (11400714785074694791, 14029467366897019727,
                           1609587929392839161, 9650029242287828579,
                           2870177450012600261)


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxround(acc, inp):
    return (_rotl((acc + inp * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """Standard XXH64 (spec: github.com/Cyan4973/xxHash); Spark's xxhash64
    default seed is 42. Returns the UNSIGNED 64-bit value."""
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _xxround(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _xxround(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _xxround(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _xxround(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _xxround(0, v)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _xxround(0, int.from_bytes(data[i:i + 8], "little")), 27)
             * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64, 23)
             * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * _P5) & _M64, 11) * _P1) & _M64
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    return h ^ (h >> 32)


def _xxh64_signed(data: bytes) -> int:
    h = xxh64(data)
    return h - (1 << 64) if h >= (1 << 63) else h


RECORD_KEY = b"graft-record-key"  # MainPipeline.RecordKey


def _docs(con):
    return con.execute("SELECT doc_id, text FROM documents").df()


def _date_str(s):
    return pd.to_datetime(s).dt.strftime("%Y-%m-%d")


def py_q35_blake2s_hash(con, spark_df, oracle):
    d = _docs(con)
    d["row_hash"] = d["text"].map(lambda t: hashlib.blake2s(
        t.encode("utf-8"), key=RECORD_KEY, digest_size=12).hexdigest())
    return spark_df, d[["doc_id", "row_hash"]]


def py_q63_blake2b_slug(con, spark_df, oracle):
    d = _docs(con)
    d["slug"] = d["text"].map(lambda t: hashlib.blake2b(
        t.encode("utf-8"), digest_size=32).hexdigest())
    return spark_df, d[["doc_id", "slug"]]


def py_q51_eav_pipeline(con, spark_df, oracle):
    """Full EAV pipeline INCLUDING the row hash: the q64 oracle SQL rebuilds
    every payload; the hash/release/partition columns are recomputed here
    (uploader-style keyed BLAKE2s over date|areaType|areaCode|metric|release)."""
    exp = con.execute(oracle["q64_pipeline_sql"]).df()
    exp["areaType"] = "supplier"
    exp["release_id"] = 1
    exp["partition_id"] = "2026_8_1|supplier"
    exp["hash"] = [
        hashlib.blake2s((d + "supplier" + a + m + "1").encode("utf-8"),
                        key=RECORD_KEY, digest_size=12).hexdigest()
        for d, a, m in zip(exp["date"], exp["areaCode"], exp["metric"])]
    spark_df = spark_df.copy()
    spark_df["date"] = _date_str(spark_df["date"])
    spark_df["release_id"] = spark_df["release_id"].astype("int64")
    exp["release_id"] = exp["release_id"].astype("int64")
    cols = ["hash", "release_id", "areaType", "areaCode", "metric",
            "partition_id", "date", "payload"]
    return spark_df[cols], exp[cols]


def py_q47_fingerprint(con, spark_df, oracle):
    """Polynomial rolling hash over whitespace tokens, mod 2^56
    (TextAnalysis.fingerprint). split(' ') keeps empty tokens, matching
    Java split with limit -1."""
    m = 1 << 56
    d = _docs(con)
    def fp(text):
        acc = 0
        for t in text.split(" "):
            acc = (acc * 31 + _xxh64_signed(t.encode("utf-8")) % m) % m
        return acc
    d["fingerprint"] = d["text"].map(fp)
    return spark_df, d[["doc_id", "fingerprint"]]


def _simhash64(text):
    votes = [0] * 64
    for t in text.split(" "):
        h = xxh64(t.encode("utf-8"))
        for j in range(64):
            votes[j] += 1 if (h >> j) & 1 else -1
    u = sum(1 << j for j in range(64) if votes[j] > 0)
    return u  # unsigned form


def py_q46_simhash_pairs(con, spark_df, oracle):
    """SimHash near-dup pairs, banded exactly like Dedup.simhashNearDups:
    candidates share >= 1 of four 16-bit bands; emit hamming <= 6."""
    d = _docs(con)
    sh = {int(r.doc_id): _simhash64(r.text) for r in d.itertuples()}
    buckets = {}
    for i, h in sh.items():
        for b in range(4):
            buckets.setdefault((b, (h >> (16 * b)) & 0xFFFF), []).append(i)
    pairs = set()
    for ids in buckets.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                pairs.add((ids[x], ids[y]))
    rows = [(a, b, bin(sh[a] ^ sh[b]).count("1")) for a, b in sorted(pairs)
            if bin(sh[a] ^ sh[b]).count("1") <= 6]
    exp = pd.DataFrame(rows, columns=["a_id", "b_id", "hamming"])
    return spark_df, exp


class _JavaRandom:
    """java.util.Random (the engine under scala.util.Random): 48-bit LCG +
    the polar-method nextGaussian, reimplemented bit-for-bit."""

    def __init__(self, seed):
        self.seed = (seed ^ 0x5DEECE66D) & ((1 << 48) - 1)
        self._have_g = False
        self._next_g = 0.0

    def _next(self, bits):
        self.seed = (self.seed * 0x5DEECE66D + 0xB) & ((1 << 48) - 1)
        return self.seed >> (48 - bits)

    def next_double(self):
        return ((self._next(26) << 27) + self._next(27)) / float(1 << 53)

    def next_gaussian(self):
        import math
        if self._have_g:
            self._have_g = False
            return self._next_g
        while True:
            v1 = 2 * self.next_double() - 1
            v2 = 2 * self.next_double() - 1
            s = v1 * v1 + v2 * v2
            if 0 < s < 1:
                break
        mult = math.sqrt(-2 * math.log(s) / s)
        self._next_g = v2 * mult
        self._have_g = True
        return v1 * mult


def _spark_round(x, scale):
    """Spark's round(double, n): BigDecimal.valueOf (shortest decimal repr,
    like Python repr) then HALF_UP."""
    import decimal
    q = decimal.Decimal(1).scaleb(-scale)
    return float(decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP))


def py_q49_lsh_ann(con, spark_df, oracle):
    """LSH-bucketed ANN (Similarity.lshTopK defaults: dim=64, nBits=6,
    nTables=4, seed=42, k=5): hyperplanes regenerated with the Java LCG in
    Array.fill order, dots accumulated in index order, buckets and rerank
    mirrored exactly."""
    emb = con.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").df()
    vecs = {int(r.vec_id): [float(v) for v in r.embedding]
            for r in emb.itertuples()}
    dim, n_bits, n_tables, seed, k = 64, 6, 4, 42, 5
    planes = {}  # (table, bit) -> plane vector
    for t in range(n_tables):
        rnd = _JavaRandom(seed + t * 7919)
        for i in range(n_bits):
            planes[(t, i)] = [rnd.next_gaussian() for _ in range(dim)]

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def bucket(t, v):
        b = 0
        for i in range(n_bits):
            if dot(v, planes[(t, i)]) >= 0:
                b += 1 << i
        return b

    buckets = {}  # (table, bucket) -> [cand_id]
    for cid, v in vecs.items():
        for t in range(n_tables):
            buckets.setdefault((t, bucket(t, v)), []).append(cid)
    rows = []
    for qid in sorted(vecs):
        if qid % 50 != 0:
            continue
        cands = set()
        for t in range(n_tables):
            cands.update(buckets.get((t, bucket(t, vecs[qid])), []))
        cands.discard(qid)
        scored = sorted(
            ((_spark_round(dot(vecs[qid], vecs[c]), 3), c) for c in cands),
            key=lambda sc: (-sc[0], sc[1]))
        rows.extend((qid, c, s) for s, c in scored[:k])
    exp = pd.DataFrame(rows, columns=["q_id", "cand_id", "score"])
    return spark_df, exp


def py_q71_approx_distinct(con, spark_df, oracle):
    """HLL estimates are engine-specific, so exact-hash comparison is
    impossible — instead require every group's estimate within 5% of the
    exact distinct count (the declared rsd is 2%). The compared frames are
    (group, within_tol) so any out-of-band estimate fails the hash match."""
    exact = con.execute(
        "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts "
        "FROM lineitem GROUP BY 1").df()
    merged = spark_df.merge(exact, on="l_returnflag", how="outer")
    merged["within_tol"] = (
        (merged.approx_parts - merged.exact_parts).abs()
        <= 0.05 * merged.exact_parts)
    a = merged[["l_returnflag", "within_tol"]]
    b = exact[["l_returnflag"]].assign(within_tol=True)
    return a, b


def py_q105_approx_quantiles(con, spark_df, oracle):
    """Greenwald-Khanna sketch values are implementation-specific; the
    guarantee is on RANK: a value returned for quantile phi must have true
    rank within (phi ± eps)·n, eps = 1/accuracy (plus 1/n discreteness).
    Compared frames are (group, within_tol)."""
    li = con.execute(
        "SELECT l_returnflag, l_extendedprice FROM lineitem").df()
    groups = sorted(li.l_returnflag.unique())
    rows_a = []
    for _, r in spark_df.iterrows():
        g = li[li.l_returnflag == r.l_returnflag].l_extendedprice
        n = len(g)
        tol = 1e-4 + 1.0 / max(n, 1)
        ok = n > 0 and all(
            # true-rank interval [frac(<v), frac(<=v)] must intersect phi±tol
            (g <= r[cname]).sum() / n >= phi - tol
            and (g < r[cname]).sum() / n <= phi + tol
            for cname, phi in (("p25", .25), ("p50", .5), ("p75", .75)))
        rows_a.append((r.l_returnflag, bool(ok)))
    a = pd.DataFrame(rows_a, columns=["l_returnflag", "within_tol"])
    b = pd.DataFrame([(f, True) for f in groups],
                     columns=["l_returnflag", "within_tol"])
    return a, b


def _assign(vecs, cents):
    """Nearest-centroid assignment replicating Similarity.assignExpr's IEEE
    sequence: nsq in index order, dot in index order, d = nsq - 2*dot,
    strict-< tie-break to the lowest centroid index."""
    nsqs = []
    for c in cents:
        nsq = 0.0
        for x in c:
            nsq += x * x
        nsqs.append(nsq)
    out = []
    for v in vecs:
        best_d, best_j = None, None
        for j, c in enumerate(cents):
            acc = 0.0
            for i in range(len(v)):
                acc += v[i] * c[i]
            d = nsqs[j] - 2.0 * acc
            if best_d is None or d < best_d:
                best_d, best_j = d, j
        out.append(best_j)
    return out


def _lloyd(vecs, k, iters):
    """Pure-Python replication of Similarity's deterministic Lloyd loop
    (no Spark code involved): init = the first k vectors (callers pass
    vecs sorted by id); assignment = argmin_j (||c_j||^2 - 2 v.c_j) with
    both sums accumulated in index order and strict-< tie-break to the
    lowest index; centroid update = exact integer sums of
    floor(v*1e6 + 0.5) divided back out. Returns (final centroids,
    final assignment)."""
    import math
    cents = [list(v) for v in vecs[:k]]

    def assign_all(cents):
        return _assign(vecs, cents)

    for _ in range(iters):
        a = assign_all(cents)
        dim = len(vecs[0])
        sums = [[0] * dim for _ in range(k)]
        cnts = [0] * k
        for v, j in zip(vecs, a):
            cnts[j] += 1
            for i, x in enumerate(v):
                sums[j][i] += math.floor(x * 1e6 + 0.5)
        for j in range(k):
            if cnts[j]:
                cents[j] = [float(sums[j][i]) / float(cnts[j]) / 1e6
                            for i in range(dim)]
    return cents, assign_all(cents)


def _embeddings(con):
    rows = con.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
    return [r[0] for r in rows], [[float(x) for x in r[1]] for r in rows]


def _kmeans_fit(con, k, iters):
    """Similarity.kMeans replication over the full embedding table.
    Returns (ids, vecs, final cluster assignment)."""
    ids, vecs = _embeddings(con)
    _, assign = _lloyd(vecs, k, iters)
    return ids, vecs, assign


def py_q109_kmeans(con, spark_df, oracle):
    ids, _, assign = _kmeans_fit(con, k=8, iters=4)
    exp = pd.DataFrame({"vec_id": ids, "cluster": assign})
    return spark_df, exp


def py_q113_semdedup(con, spark_df, oracle):
    """SemDeDup: same k-means fit as q109, then exact within-cluster cosine
    pairs (sequential index-order dots, Spark-style round to 3 dp); a vector
    is dropped iff a lower id in its cluster is within threshold 0.35."""
    ids, vecs, assign = _kmeans_fit(con, k=8, iters=4)
    by_cluster = {}
    for i, cl in enumerate(assign):
        by_cluster.setdefault(cl, []).append(i)
    rows = set()
    for cl, members in by_cluster.items():
        members.sort(key=lambda i: ids[i])
        for x in range(len(members)):
            vx = vecs[members[x]]
            for y in range(x + 1, len(members)):
                vy = vecs[members[y]]
                acc = 0.0
                for d in range(len(vx)):
                    acc += vx[d] * vy[d]
                if _spark_round(acc, 3) >= 0.35:
                    rows.add((ids[members[y]], cl))
    exp = pd.DataFrame(sorted(rows), columns=["drop_id", "cluster"])
    if exp.empty:
        exp = pd.DataFrame({"drop_id": pd.Series(dtype="int64"),
                            "cluster": pd.Series(dtype="int64")})
    return spark_df, exp


def py_q125_pq_ann(con, spark_df, oracle):
    """Product-quantization ADC shortlist + exact rerank — see _pq_topk."""
    ids, vecs = _embeddings(con)
    exp = _pq_topk(ids, vecs, m=16, ksub=8, iters=3, k=5, shortlist=100)
    return spark_df, exp


def _pq_topk(ids, vecs, m, ksub, iters, k, shortlist):
    """Similarity.pqTopK replication: per-subspace Lloyd codebooks (the
    exact IEEE sequence of Similarity.pqCodebooks — one _lloyd run per
    contiguous dim/m slice), codes = final-centroid assignment, query
    lookup tables parts[s][j] = floor(q_s . c_{s,j} * 1e6 + 0.5) with
    index-order dots, ADC score = integer sum of m lookups, top-`shortlist`
    by (adc desc, cand_id asc), then exact index-order dot rounded to 3 dp
    reranks to the final top-k. Queries: vec_id % 50 == 0."""
    import math
    dim = len(vecs[0])
    dsub = dim // m
    cbs = []
    codes = [[0] * m for _ in ids]
    for s in range(m):
        sub = [v[s * dsub:(s + 1) * dsub] for v in vecs]
        cents, assign = _lloyd(sub, ksub, iters)
        cbs.append(cents)
        for r_i, j in enumerate(assign):
            codes[r_i][s] = j
    idx_of = {vid: i for i, vid in enumerate(ids)}
    out = []
    for qi, qid in enumerate(ids):
        if qid % 50 != 0:
            continue
        parts = []
        for s in range(m):
            qs = vecs[qi][s * dsub:(s + 1) * dsub]
            row = []
            for c in cbs[s]:
                acc = 0.0
                for i in range(dsub):
                    acc += qs[i] * c[i]
                row.append(math.floor(acc * 1e6 + 0.5))
            parts.append(row)
        scored = []
        for ci, cid in enumerate(ids):
            if cid == qid:
                continue
            sc = 0
            for s in range(m):
                sc += parts[s][codes[ci][s]]
            scored.append((sc, cid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        rer = []
        for _, cid in scored[:shortlist]:
            cv = vecs[idx_of[cid]]
            acc = 0.0
            for i in range(dim):
                acc += vecs[qi][i] * cv[i]
            rer.append((_spark_round(acc, 3), cid))
        rer.sort(key=lambda t: (-t[0], t[1]))
        for sc, cid in rer[:k]:
            out.append((qid, cid, sc))
    return pd.DataFrame(out, columns=["q_id", "cand_id", "score"])


def py_q127_incremental_pq(con, spark_df, oracle):
    """Incremental PQ maintenance: codebooks trained on the OLD release only
    (ids % 10 < 8, same per-subspace _lloyd sequence as q125), the NEW
    release's vectors encoded against those frozen codebooks — old vectors
    never revisited. Codes serialized like Spark's to_json."""
    ids, vecs = _embeddings(con)
    m, ksub, iters = 16, 8, 3
    dim = len(vecs[0])
    dsub = dim // m
    old = [v for i, v in zip(ids, vecs) if i % 10 < 8]
    new = [(i, v) for i, v in zip(ids, vecs) if i % 10 >= 8]
    rows = []
    codes = [[0] * m for _ in new]
    for s in range(m):
        cents, _ = _lloyd([v[s * dsub:(s + 1) * dsub] for v in old],
                          ksub, iters)
        a = _assign([v[s * dsub:(s + 1) * dsub] for _, v in new], cents)
        for r_i, j in enumerate(a):
            codes[r_i][s] = j
    for (vid, _), c in zip(new, codes):
        rows.append((vid, "[" + ",".join(str(x) for x in c) + "]"))
    exp = pd.DataFrame(rows, columns=["vec_id", "codes"])
    return spark_df, exp


def _power_component(vecs, dim, iters):
    """Similarity.topComponent replication: per-dim mean and every u-update
    quantized with floor(x*1e6 + 0.5) and summed as exact ints; dots
    accumulate in index order; norm/sqrt/divisions are IEEE basic ops
    identical to the JVM's. Returns (mu, unit component)."""
    import math
    n = len(vecs)

    def q(x):
        return math.floor(x * 1e6 + 0.5)

    mu = [0.0] * dim
    for i in range(dim):
        s = 0
        for v in vecs:
            s += q(v[i])
        # float() first: replicate Scala's Long.toDouble / Long.toDouble
        mu[i] = float(s) / float(n) / 1e6
    w = [1.0] * dim
    for _ in range(iters):
        u = [0] * dim
        for vec in vecs:
            c = [vec[i] - mu[i] for i in range(dim)]
            s = 0.0
            for i in range(dim):
                s += c[i] * w[i]
            for i in range(dim):
                u[i] += q(c[i] * s)
        uf = [x / 1e6 for x in u]
        nsq = 0.0
        for i in range(dim):
            nsq += uf[i] * uf[i]
        norm = math.sqrt(nsq)
        w = [x / norm for x in uf]
    return mu, w


def py_q145_ivfpq_ann(con, spark_df, oracle):
    """IVFADC: coarse Lloyd's (the exact q109 sequence, k=8, iters=4),
    residuals v − centroid(cell), per-subspace residual codebooks (the q125
    sequence), probe = 2 cells by (‖c‖² − 2q·c, cell) ascending, per-cell
    integer ADC over the query's own residual, 3-dp exact rerank of the
    top-100 shortlist to the final top-5."""
    ids, vecs = _embeddings(con)
    return spark_df, _ivfpq_topk(ids, vecs)


def _ivfpq_topk(ids, vecs, rerank_vecs=None, keep=None):
    """The q145 IVFADC chain over an arbitrary vector set (queries =
    vec_id % 50 == 0) — shared by the plain (q145/q146/q181), OPQ-rotated
    (q187), int8-rerank (q188, rerank_vecs = dequantized candidates) and
    filtered (q195, keep = eligible cand-id set, applied pre-shortlist)
    oracles. The query side of the rerank dot always uses `vecs`."""
    import math
    rv = vecs if rerank_vecs is None else rerank_vecs
    dim = len(vecs[0])
    kc, citers, nprobe = 8, 4, 2
    m, ksub, iters, k, shortlist = 16, 8, 3, 5, 100
    dsub = dim // m
    cents, assign = _lloyd(vecs, kc, citers)
    resid = [[v[i] - cents[c][i] for i in range(dim)]
             for v, c in zip(vecs, assign)]
    cbs = []
    codes = [[0] * m for _ in ids]
    for s in range(m):
        scents, sassign = _lloyd([r[s * dsub:(s + 1) * dsub] for r in resid],
                                 ksub, iters)
        cbs.append(scents)
        for ri, j in enumerate(sassign):
            codes[ri][s] = j
    idx_of = {vid: i for i, vid in enumerate(ids)}
    by_cell = {}
    for i, c in enumerate(assign):
        by_cell.setdefault(c, []).append(i)
    out = []
    for qi, qid in enumerate(ids):
        if qid % 50 != 0:
            continue
        cs = []
        for j, cv in enumerate(cents):
            nsq = 0.0
            for x in cv:
                nsq += x * x
            d = 0.0
            for i in range(dim):
                d += vecs[qi][i] * cv[i]
            cs.append((nsq - 2.0 * d, j))
        cs.sort(key=lambda t: (t[0], t[1]))
        scored = []
        for _, cell in cs[:nprobe]:
            qr = [vecs[qi][i] - cents[cell][i] for i in range(dim)]
            parts = []
            for s in range(m):
                qs = qr[s * dsub:(s + 1) * dsub]
                row = []
                for c in cbs[s]:
                    acc = 0.0
                    for i in range(dsub):
                        acc += qs[i] * c[i]
                    row.append(math.floor(acc * 1e6 + 0.5))
                parts.append(row)
            for ci in by_cell.get(cell, []):
                cid = ids[ci]
                if cid == qid:
                    continue
                if keep is not None and cid not in keep:
                    continue
                sc = 0
                for s in range(m):
                    sc += parts[s][codes[ci][s]]
                scored.append((sc, cid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        rer = []
        for _, cid in scored[:shortlist]:
            cv2 = rv[idx_of[cid]]
            acc = 0.0
            for i in range(dim):
                acc += vecs[qi][i] * cv2[i]
            rer.append((_spark_round(acc, 3), cid))
        rer.sort(key=lambda t: (-t[0], t[1]))
        for sc, cid in rer[:k]:
            out.append((qid, cid, sc))
    return pd.DataFrame(out, columns=["q_id", "cand_id", "score"])


def py_q195_filtered_index_serve(con, spark_df, oracle):
    """Filtered frozen-index serving: the q145 chain with a metadata keep
    set (label % 2 == 0) applied to the probed cells' candidates BEFORE the
    ADC shortlist — exactly IndexStore.queryFiltered's pre-filter contract
    (post-filtering the unfiltered shortlist would rank differently and can
    starve k)."""
    ids, vecs = _embeddings(con)
    keep = {r[0] for r in con.execute(
        "SELECT vec_id FROM embeddings WHERE label % 2 = 0").fetchall()}
    return spark_df, _ivfpq_topk(ids, vecs, keep=keep)


def py_q198_pq_distortion(con, spark_df, oracle):
    """PQ distortion audit: per-subspace Lloyd codebooks (the exact q125
    sequence), assignment, then the quantized squared reconstruction error
    floor(||v_s - c||^2 * 1e6 + 0.5) of every vector — reduced to
    (count, sum, max, floor-mean) per subspace with integer sums."""
    import math
    ids, vecs = _embeddings(con)
    dim = len(vecs[0])
    m, ksub, iters = 16, 8, 3
    dsub = dim // m
    rows = []
    for s in range(m):
        sub = [v[s * dsub:(s + 1) * dsub] for v in vecs]
        cents, assign = _lloyd(sub, ksub, iters)
        n = 0
        tot = 0
        mx = 0
        for v, j in zip(sub, assign):
            sq = 0.0
            for i in range(dsub):
                d = v[i] - cents[j][i]
                sq += d * d
            e = math.floor(sq * 1e6 + 0.5)
            n += 1
            tot += e
            mx = max(mx, e)
        rows.append((s, n, tot, mx, math.floor(float(tot) / float(n))))
    return spark_df, pd.DataFrame(rows, columns=[
        "sub", "n_vecs", "sum_err_micro", "max_err_micro", "mean_err_micro"])


def py_q197_asof_index_serve(con, spark_df, oracle):
    """As-of (time-travel) frozen-index serving: the store holds r1 (vec_id
    % 10 < 8, the build) plus an appended r2, and serves restricted to r1's
    release partitions. Appends never retrain, so the answer is exactly the
    q145 chain over the r1 subset alone (every %50 query id is itself in
    r1, matching the Spark fixture's query set)."""
    ids, vecs = _embeddings(con)
    sub = [(i, v) for i, v in zip(ids, vecs) if i % 10 < 8]
    return spark_df, _ivfpq_topk([i for i, _ in sub], [v for _, v in sub])


def py_q188_int8_index_serve(con, spark_df, oracle):
    """Int8-rerank frozen-index serving: the q145 IVFADC chain with the
    exact rerank taken against q82-spelling DEQUANTIZED candidates — per-dim
    [lo, hi] over the resident corpus, q = HALF_UP((v−lo)/((hi−lo)/255)),
    v' = lo + q·(hi−lo)/255 — exactly what IndexStore.serve's Int8 rerank
    reads from the store's rerank tier."""
    ids, vecs = _embeddings(con)
    dim = len(vecs[0])
    lo = [min(v[i] for v in vecs) for i in range(dim)]
    hi = [max(v[i] for v in vecs) for i in range(dim)]
    dq = []
    for v in vecs:
        row = []
        for i in range(dim):
            if hi[i] == lo[i]:
                q = 0
            else:
                q = int(_spark_round((v[i] - lo[i]) / ((hi[i] - lo[i]) / 255.0), 0))
            row.append(lo[i] + float(q) * ((hi[i] - lo[i]) / 255.0))
        dq.append(row)
    return spark_df, _ivfpq_topk(ids, vecs, rerank_vecs=dq)


def py_q199_filtered_int8_serve(con, spark_df, oracle):
    """Filtered serving on the int8 tier: the q188 dequantized-rerank chain
    with the q195 keep set (label % 2 == 0) applied pre-shortlist — exactly
    IndexStore.serve with ServeSpec(Int8, keep)."""
    ids, vecs = _embeddings(con)
    keep = {r[0] for r in con.execute(
        "SELECT vec_id FROM embeddings WHERE label % 2 = 0").fetchall()}
    dim = len(vecs[0])
    lo = [min(v[i] for v in vecs) for i in range(dim)]
    hi = [max(v[i] for v in vecs) for i in range(dim)]
    dq = []
    for v in vecs:
        row = []
        for i in range(dim):
            if hi[i] == lo[i]:
                q = 0
            else:
                q = int(_spark_round((v[i] - lo[i]) / ((hi[i] - lo[i]) / 255.0), 0))
            row.append(lo[i] + float(q) * ((hi[i] - lo[i]) / 255.0))
        dq.append(row)
    return spark_df, _ivfpq_topk(ids, vecs, rerank_vecs=dq, keep=keep)


def _opq_rotate(vecs):
    """The q144 rotation sequence: power component, w ∝ u − 1/√dim,
    index-order dot, x′ = x − 2(w·x)w, identity when ‖u−t‖ < 1e-9."""
    import math
    dim = len(vecs[0])
    _, u = _power_component(vecs, dim, iters=3)
    t = 1.0 / math.sqrt(float(dim))
    wraw = [u[i] - t for i in range(dim)]
    nsq = 0.0
    for x in wraw:
        nsq += x * x
    nrm = math.sqrt(nsq)
    if nrm < 1e-9:
        return vecs
    hh = [x / nrm for x in wraw]
    rot = []
    for v in vecs:
        d = 0.0
        for i in range(dim):
            d += v[i] * hh[i]
        d2 = d * 2.0
        rot.append([v[i] - d2 * hh[i] for i in range(dim)])
    return rot


def py_q187_opq_index_serve(con, spark_df, oracle):
    """OPQ-rotated frozen-index serving: the q144 rotation sequence (power
    component + Householder reflection, trained on the full corpus) followed
    by EXACTLY the q145 IVFADC chain over the rotated vectors — probe, ADC
    and the exact rerank all live in the rotated space, mirroring the
    store's frozen-rotation lifecycle."""
    ids, vecs = _embeddings(con)
    return spark_df, _ivfpq_topk(ids, _opq_rotate(vecs))


def py_q156_index_decontaminate(con, spark_df, oracle):
    """Index-served decontamination: the q145 IVFADC sequence trained and
    encoded on the CORPUS side only (vec_id % 50 != 0), each eval vector
    (% 50 == 0) probing 2 cells, integer-ADC shortlist of 100, 3-dp exact
    rerank, threshold 0.3, then the flip — per corpus vector its best eval
    match (cosine desc, eval id asc)."""
    return spark_df, _index_decontaminate(con, dequant=False)


def py_q190_int8_decontaminate(con, spark_df, oracle):
    """Int8-served decontamination: exactly the q156 chain, but the 3-dp
    exact rerank dots each shortlisted candidate's q82-spelling DEQUANTIZED
    vector (per-dim [lo, hi] over the CORPUS residents — the store's rerank
    tier covers exactly its residents) instead of the raw float — what
    IndexStore.serve's Int8 rerank reads from the tier."""
    return spark_df, _index_decontaminate(con, dequant=True)


def _index_decontaminate(con, dequant):
    import math
    ids, vecs = _embeddings(con)
    dim = len(vecs[0])
    kc, citers, nprobe = 8, 4, 2
    m, ksub, iters, shortlist, thr = 16, 8, 3, 100, 0.3
    dsub = dim // m
    cidx = [i for i, vid in enumerate(ids) if vid % 50 != 0]
    cids = [ids[i] for i in cidx]
    cvecs = [vecs[i] for i in cidx]
    # the store's rerank tier: per-dim [lo, hi] over the residents only,
    # q82 spelling (HALF_UP), decode lo + q*(hi-lo)/255
    rvecs = cvecs
    if dequant:
        lo = [min(v[i] for v in cvecs) for i in range(dim)]
        hi = [max(v[i] for v in cvecs) for i in range(dim)]
        rvecs = []
        for v in cvecs:
            row = []
            for i in range(dim):
                if hi[i] == lo[i]:
                    q = 0
                else:
                    q = int(_spark_round(
                        (v[i] - lo[i]) / ((hi[i] - lo[i]) / 255.0), 0))
                row.append(lo[i] + float(q) * ((hi[i] - lo[i]) / 255.0))
            rvecs.append(row)
    cents, assign = _lloyd(cvecs, kc, citers)
    resid = [[v[i] - cents[c][i] for i in range(dim)]
             for v, c in zip(cvecs, assign)]
    cbs = []
    codes = [[0] * m for _ in cids]
    for s in range(m):
        scents, sassign = _lloyd([r[s * dsub:(s + 1) * dsub] for r in resid],
                                 ksub, iters)
        cbs.append(scents)
        for ri, j in enumerate(sassign):
            codes[ri][s] = j
    idx_of = {vid: i for i, vid in enumerate(cids)}
    by_cell = {}
    for i, c in enumerate(assign):
        by_cell.setdefault(c, []).append(i)
    hits = []
    for qi, qid in enumerate(ids):
        if qid % 50 != 0:
            continue
        qv = vecs[qi]
        cs = []
        for j, cv in enumerate(cents):
            nsq = 0.0
            for x in cv:
                nsq += x * x
            d = 0.0
            for i in range(dim):
                d += qv[i] * cv[i]
            cs.append((nsq - 2.0 * d, j))
        cs.sort(key=lambda t: (t[0], t[1]))
        scored = []
        for _, cell in cs[:nprobe]:
            qr = [qv[i] - cents[cell][i] for i in range(dim)]
            parts = []
            for s in range(m):
                qs = qr[s * dsub:(s + 1) * dsub]
                row = []
                for c in cbs[s]:
                    acc = 0.0
                    for i in range(dsub):
                        acc += qs[i] * c[i]
                    row.append(math.floor(acc * 1e6 + 0.5))
                parts.append(row)
            for ci in by_cell.get(cell, []):
                sc = 0
                for s in range(m):
                    sc += parts[s][codes[ci][s]]
                scored.append((sc, cids[ci]))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for _, cid in scored[:shortlist]:
            cv2 = rvecs[idx_of[cid]]
            acc = 0.0
            for i in range(dim):
                acc += qv[i] * cv2[i]
            sc = _spark_round(acc, 3)
            if sc >= thr:
                hits.append((cid, qid, sc))
    best = {}
    for cid, qid, sc in hits:
        cur = best.get(cid)
        # best match = cosine desc, eval id asc (max(struct(cosine, -qid)))
        if cur is None or (sc, -qid) > (cur[1], -cur[0]):
            best[cid] = (qid, sc)
    return pd.DataFrame(
        [(cid, q, s) for cid, (q, s) in sorted(best.items())],
        columns=["vec_id", "eval_id", "cosine"])


def py_q170_index_knn(con, spark_df, oracle):
    """Index-served mutual-kNN graph: the q145/q146 IVFADC sequence (full
    corpus trained + encoded, kc=8, citers=4, m=16, ksub=8, iters=3), with
    EVERY vector as a query — 2-cell probe, integer ADC shortlist of 50,
    3-dp exact rerank to top-3 with in-list rank, then the reciprocity
    flag from the edge set itself."""
    import math
    ids, vecs = _embeddings(con)
    dim = len(vecs[0])
    kc, citers, nprobe = 8, 4, 2
    m, ksub, iters, k, shortlist = 16, 8, 3, 3, 50
    dsub = dim // m
    cents, assign = _lloyd(vecs, kc, citers)
    resid = [[v[i] - cents[c][i] for i in range(dim)]
             for v, c in zip(vecs, assign)]
    cbs = []
    codes = [[0] * m for _ in ids]
    for s in range(m):
        scents, sassign = _lloyd([r[s * dsub:(s + 1) * dsub] for r in resid],
                                 ksub, iters)
        cbs.append(scents)
        for ri, j in enumerate(sassign):
            codes[ri][s] = j
    idx_of = {vid: i for i, vid in enumerate(ids)}
    by_cell = {}
    for i, c in enumerate(assign):
        by_cell.setdefault(c, []).append(i)
    edges = []
    for qi, qid in enumerate(ids):
        cs = []
        for j, cv in enumerate(cents):
            nsq = 0.0
            for x in cv:
                nsq += x * x
            d = 0.0
            for i in range(dim):
                d += vecs[qi][i] * cv[i]
            cs.append((nsq - 2.0 * d, j))
        cs.sort(key=lambda t: (t[0], t[1]))
        scored = []
        for _, cell in cs[:nprobe]:
            qr = [vecs[qi][i] - cents[cell][i] for i in range(dim)]
            parts = []
            for s in range(m):
                qs = qr[s * dsub:(s + 1) * dsub]
                row = []
                for c in cbs[s]:
                    acc = 0.0
                    for i in range(dsub):
                        acc += qs[i] * c[i]
                    row.append(math.floor(acc * 1e6 + 0.5))
                parts.append(row)
            for ci in by_cell.get(cell, []):
                cid = ids[ci]
                if cid == qid:
                    continue
                sc = 0
                for s in range(m):
                    sc += parts[s][codes[ci][s]]
                scored.append((sc, cid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        rer = []
        for _, cid in scored[:shortlist]:
            cv2 = vecs[idx_of[cid]]
            acc = 0.0
            for i in range(dim):
                acc += vecs[qi][i] * cv2[i]
            rer.append((_spark_round(acc, 3), cid))
        rer.sort(key=lambda t: (-t[0], t[1]))
        for r, (sc, cid) in enumerate(rer[:k]):
            edges.append((qid, cid, sc, r + 1))
    eset = {(a, b) for a, b, _, _ in edges}
    exp = pd.DataFrame(
        [(a, b, sc, r, (b, a) in eset) for a, b, sc, r in edges],
        columns=["src_id", "dst_id", "score", "rank", "mutual"])
    return spark_df, exp


def py_q176_incremental_knn(con, spark_df, oracle):
    """Incremental kNN-graph oracle = the FROM-SCRATCH graph on the union
    corpus under the FROZEN quantizer: coarse centroids Lloyd-trained on
    the OLD slice only (vec_id % 10 < 8, kc=8, 4 iters), every union
    vector assigned/probed against those frozen centroids (2 cells),
    candidates = union vectors resident in the probed cells, exact 3-dp
    rounded-dot top-3 with id-ascending ties, in-list rank, reciprocity
    flag. Equality with the engine's rolled-forward (prior + delta) graph
    IS the incremental-correctness claim."""
    ids, vecs = _embeddings(con)
    dim = len(vecs[0])
    old_idx = [i for i, vid in enumerate(ids) if vid % 10 < 8]
    cents, _ = _lloyd([vecs[i] for i in old_idx], 8, 4)
    assign = _assign(vecs, cents)
    by_cell = {}
    for i, c in enumerate(assign):
        by_cell.setdefault(c, []).append(i)
    nsqs = []
    for c in cents:
        nsq = 0.0
        for x in c:
            nsq += x * x
        nsqs.append(nsq)
    edges = []
    for qi, qid in enumerate(ids):
        cs = []
        for j, cv in enumerate(cents):
            d = 0.0
            for i in range(dim):
                d += vecs[qi][i] * cv[i]
            cs.append((nsqs[j] - 2.0 * d, j))
        cs.sort(key=lambda t: (t[0], t[1]))
        scored = []
        for _, cell in cs[:2]:
            for ci in by_cell.get(cell, []):
                cid = ids[ci]
                if cid == qid:
                    continue
                acc = 0.0
                for i in range(dim):
                    acc += vecs[qi][i] * vecs[ci][i]
                scored.append((_spark_round(acc, 3), cid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for r, (sc, cid) in enumerate(scored[:3]):
            edges.append((qid, cid, sc, r + 1))
    eset = {(a, b) for a, b, _, _ in edges}
    exp = pd.DataFrame(
        [(a, b, sc, r, (b, a) in eset) for a, b, sc, r in edges],
        columns=["src_id", "dst_id", "score", "rank", "mutual"])
    return spark_df, exp


def py_q178_index_health(con, spark_df, oracle):
    """Per-cell code population of the frozen IVFADC store: the q145
    coarse Lloyd's (full corpus, kc=8, 4 iters) assignment histogram with
    integer milli shares."""
    ids, vecs = _embeddings(con)
    cents, assign = _lloyd(vecs, 8, 4)
    counts = {}
    for c in assign:
        counts[c] = counts.get(c, 0) + 1
    n = len(ids)
    exp = pd.DataFrame(
        [(c, k, k * 1000 // n) for c, k in sorted(counts.items())],
        columns=["cell", "n_codes", "share_milli"])
    return spark_df, exp


def py_q183_health_verdict(con, spark_df, oracle):
    """Health verdict over the healthy (kc=8) and degenerate (kc=2) full-
    corpus stores: the q178 Lloyd assignment histogram reduced to the
    one-row policy card (populated/empty cells, extreme integer milli
    shares, needs_rebalance = monster cell over 300 or any empty cell)."""
    ids, vecs = _embeddings(con)
    rows = []
    for kc, tag in ((8, "kc8"), (2, "kc2")):
        cents, assign = _lloyd(vecs, kc, 4)
        counts = {}
        for c in assign:
            counts[c] = counts.get(c, 0) + 1
        n = len(ids)
        shares = [k * 1000 // n for k in counts.values()]
        npop = len(counts)
        mx, mn = max(shares), min(shares)
        rows.append((npop, kc - npop, mx, mn, mx > 300 or npop < kc, tag))
    exp = pd.DataFrame(rows, columns=[
        "n_cells_populated", "n_empty_cells", "max_share_milli",
        "min_share_milli", "needs_rebalance", "store"])
    return spark_df, exp


def py_q175_index_recall(con, spark_df, oracle):
    """Frozen-index recall audit: the q145/q146 served top-5 per query
    (identical sequence/params) measured against an exact brute-force
    top-5 (3-dp rounded dots, id-ascending ties), aggregated to per-query
    hit counts and integer milli recall."""
    served_df, served = py_q145_ivfpq_ann(con, None, None)
    hits = {(r.q_id, r.cand_id) for r in served.itertuples()}
    ids, vecs = _embeddings(con)
    dim = len(vecs[0])
    idx_of = {vid: i for i, vid in enumerate(ids)}
    out = []
    for qid in ids:
        if qid % 50 != 0:
            continue
        qv = vecs[idx_of[qid]]
        scored = []
        for cid in ids:
            if cid == qid:
                continue
            cv = vecs[idx_of[cid]]
            acc = 0.0
            for i in range(dim):
                acc += qv[i] * cv[i]
            scored.append((_spark_round(acc, 3), cid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        top = scored[:5]
        n_hits = sum(1 for _, cid in top if (qid, cid) in hits)
        out.append((qid, len(top), n_hits, n_hits * 1000 // len(top)))
    exp = pd.DataFrame(out,
                       columns=["q_id", "k_true", "n_hits", "recall_milli"])
    return spark_df, exp


def py_q136_top_component(con, spark_df, oracle):
    """Power-iteration top component (Similarity.topComponentProjections,
    dim=64, iters=3) — see _power_component for the IEEE sequence."""
    import math
    ids, vecs = _embeddings(con)
    dim = len(vecs[0])
    mu, w = _power_component(vecs, dim, iters=3)
    rows = []
    for vid, vec in zip(ids, vecs):
        c = [vec[i] - mu[i] for i in range(dim)]
        s = 0.0
        for i in range(dim):
            s += c[i] * w[i]
        rows.append((vid, math.floor(s * 1e6 + 0.5)))
    exp = pd.DataFrame(rows, columns=["vec_id", "proj_micro"])
    return spark_df, exp


def py_q144_opq_ann(con, spark_df, oracle):
    """OPQ-lite ANN: q136's power component, Householder reflection onto the
    balanced direction (Similarity.opqRotate: w ∝ u − 1/√dim, index-order
    dot, x′ = x − 2(w·x)w, identity when ‖u−t‖ < 1e-9), then EXACTLY the
    q125 PQ pipeline (same Lloyd sequence, integer ADC, 3-dp rerank) over
    the rotated vectors."""
    ids, vecs = _embeddings(con)
    exp = _pq_topk(ids, _opq_rotate(vecs),
                   m=16, ksub=8, iters=3, k=5, shortlist=100)
    return spark_df, exp


def py_q180_vector_release(con, spark_df, oracle):
    """Vector-tier nightly roll-forward oracle = the FROM-SCRATCH union
    build under the frozen prior-release model: coarse Lloyd's + residual
    codebooks trained on the OLD corpus only (non-eval, vec_id % 10 < 8),
    every union corpus vector cell-assigned/encoded against that frozen
    model, the exact cell-pruned top-3 graph over the union with
    reciprocity flags (the q176 kernel), and the ADC-served eval drop list
    over the union codes (the q156 kernel). Equality with the engine's
    rolled-forward (append + merge + serve) output IS the
    incremental-correctness claim."""
    ids, vecs = _embeddings(con)
    return spark_df, _union_release(ids, vecs)


def _union_release(ids, vecs, keep=None):
    """The q180 from-scratch union build, optionally restricted to a
    SERVABLE corpus (`keep` = eligible vec-id set — the q204 takedown
    case). The model always trains on the FULL old slice (it was frozen
    before any takedown); only the encoded/graphed/served population
    shrinks, exactly like purge + scrubbed inputs on the engine side."""
    import math
    dim = len(vecs[0])
    kc, citers, nprobe, k = 8, 4, 2, 3
    m, ksub, iters, shortlist, thr = 16, 8, 3, 100, 0.3
    dsub = dim // m
    corp = [(i, vid) for i, vid in enumerate(ids)
            if vid % 50 != 0 and (keep is None or vid in keep)]
    old = [(i, vid) for i, vid in enumerate(ids)
           if vid % 50 != 0 and vid % 10 < 8]
    # frozen model: coarse centroids + residual codebooks on the old corpus
    cents, oassign = _lloyd([vecs[i] for i, _ in old], kc, citers)
    oresid = [[vecs[i][d] - cents[c][d] for d in range(dim)]
              for (i, _), c in zip(old, oassign)]
    cbs = []
    for s in range(m):
        scents, _ = _lloyd([r[s * dsub:(s + 1) * dsub] for r in oresid],
                           ksub, iters)
        cbs.append(scents)
    # union corpus under the frozen model: cell assignment + codes
    cids = [vid for _, vid in corp]
    cvecs = [vecs[i] for i, _ in corp]
    cassign = _assign(cvecs, cents)
    codes = []
    for v, c in zip(cvecs, cassign):
        r = [v[d] - cents[c][d] for d in range(dim)]
        codes.append([_assign([r[s * dsub:(s + 1) * dsub]], cbs[s])[0]
                      for s in range(m)])
    by_cell = {}
    for i, c in enumerate(cassign):
        by_cell.setdefault(c, []).append(i)
    nsqs = []
    for c in cents:
        nsq = 0.0
        for x in c:
            nsq += x * x
        nsqs.append(nsq)

    def probe(qv):
        cs = []
        for j, cv in enumerate(cents):
            d = 0.0
            for i in range(dim):
                d += qv[i] * cv[i]
            cs.append((nsqs[j] - 2.0 * d, j))
        cs.sort(key=lambda t: (t[0], t[1]))
        return [cell for _, cell in cs[:nprobe]]

    # exact cell-pruned top-k graph over the union corpus
    edges = []
    for qi, qid in enumerate(cids):
        scored = []
        for cell in probe(cvecs[qi]):
            for ci in by_cell.get(cell, []):
                if cids[ci] == qid:
                    continue
                acc = 0.0
                for i in range(dim):
                    acc += cvecs[qi][i] * cvecs[ci][i]
                scored.append((_spark_round(acc, 3), cids[ci]))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for r, (sc, cid) in enumerate(scored[:k]):
            edges.append((qid, cid, sc, r + 1))
    eset = {(a, b) for a, b, _, _ in edges}
    # ADC-served eval drop list over the union codes
    hits = []
    for qi, qid in enumerate(ids):
        if qid % 50 != 0:
            continue
        qv = vecs[qi]
        scored = []
        for cell in probe(qv):
            qr = [qv[i] - cents[cell][i] for i in range(dim)]
            parts = []
            for s in range(m):
                qs = qr[s * dsub:(s + 1) * dsub]
                row = []
                for c in cbs[s]:
                    acc = 0.0
                    for i in range(dsub):
                        acc += qs[i] * c[i]
                    row.append(math.floor(acc * 1e6 + 0.5))
                parts.append(row)
            for ci in by_cell.get(cell, []):
                sc = 0
                for s in range(m):
                    sc += parts[s][codes[ci][s]]
                scored.append((sc, cids[ci]))
        scored.sort(key=lambda t: (-t[0], t[1]))
        idx_of = {v: i for i, v in enumerate(cids)}
        for _, cid in scored[:shortlist]:
            cv2 = cvecs[idx_of[cid]]
            acc = 0.0
            for i in range(dim):
                acc += qv[i] * cv2[i]
            sc = _spark_round(acc, 3)
            if sc >= thr:
                hits.append((cid, qid, sc))
    best = {}
    for cid, qid, sc in hits:
        cur = best.get(cid)
        if cur is None or (sc, -qid) > (cur[1], -cur[0]):
            best[cid] = (qid, sc)
    return pd.DataFrame(
        [(a, b, sc, r, (b, a) in eset,
          "r2" if a % 10 >= 8 else "r1", a in best)
         for a, b, sc, r in edges],
        columns=["src_id", "dst_id", "score", "rank", "mutual",
                 "release", "dropped"])


def py_q204_takedown_maintain(con, spark_df, oracle):
    """Takedown-aware nightly maintenance: the q180 from-scratch union
    answer restricted to the SERVABLE corpus (vec_id % 7 != 3 taken down
    between nights; the frozen model predates the takedown so it still
    trains on the full old slice), plus the rebalanced flag = the q183
    verdict arithmetic over the PURGED store (servable old residents
    assigned to the frozen centroids)."""
    ids, vecs = _embeddings(con)
    keep = {vid for vid in ids if vid % 7 != 3}
    exp = _union_release(ids, vecs, keep=keep)
    train = [vecs[i] for i, vid in enumerate(ids)
             if vid % 50 != 0 and vid % 10 < 8]
    cents, _ = _lloyd(train, 8, 4)
    sold = [vecs[i] for i, vid in enumerate(ids)
            if vid % 50 != 0 and vid % 10 < 8 and vid % 7 != 3]
    counts = {}
    for c in _assign(sold, cents):
        counts[c] = counts.get(c, 0) + 1
    trips = max(k * 1000 // len(sold) for k in counts.values()) > 300 \
        or len(counts) < 8
    exp = exp.copy()
    exp["rebalanced"] = trips
    return spark_df, exp


def py_q186_index_maintain(con, spark_df, oracle):
    """Unified nightly maintenance oracle: the q180 from-scratch union
    answer expected under BOTH store tags — the degenerate kCoarse=2 store
    retrains to the same kCoarse=8 frozen-model params before rolling
    forward, so both branches provably converge to one answer; the
    rebalanced flag replays the q183 verdict arithmetic (the kc8 prior
    store is healthy unless a monster cell tops 300 milli or a target cell
    is empty; the kc2 store always trips the 8-cell target)."""
    _, exp = py_q180_vector_release(con, None, None)
    ids, vecs = _embeddings(con)
    old = [vecs[i] for i, vid in enumerate(ids)
           if vid % 50 != 0 and vid % 10 < 8]
    cents, assign = _lloyd(old, 8, 4)
    counts = {}
    for c in assign:
        counts[c] = counts.get(c, 0) + 1
    shares = [k * 1000 // len(old) for k in counts.values()]
    healthy_trips = max(shares) > 300 or len(counts) < 8
    h = exp.copy()
    h["store"] = "healthy"
    h["rebalanced"] = healthy_trips
    d = exp.copy()
    d["store"] = "degen"
    d["rebalanced"] = True
    return spark_df, pd.concat([h, d], ignore_index=True)


def py_q206_unified_takedown(con, spark_df, oracle):
    """Unified cross-tier takedown: q205's SQL manifest (the text tier's
    post-takedown roll-forward, executed in DuckDB — gate q206 together
    with q205_doc_takedown in partial Verify runs) anti-joined with
    the vector tier's drop set from the q180 from-scratch union build
    restricted to the servable (vec_id % 9 != 2) corpus — the q204
    takedown kernel under q205's takedown id set."""
    assert "q205_doc_takedown" in oracle, \
        "q206 needs q205's SQL — include q205_doc_takedown in the gate"
    man = con.execute(oracle["q205_doc_takedown"]).df()
    ids, vecs = _embeddings(con)
    keep = {vid for vid in ids if vid % 9 != 2}
    vr = _union_release(ids, vecs, keep=keep)
    dropped = set(vr.loc[vr.dropped, "src_id"])
    return spark_df, man[~man.doc_id.isin(dropped)].reset_index(drop=True)


def py_q189_maintained_release(con, spark_df, oracle):
    """Maintained cross-tier nightly release: the q140 text-tier SQL chain
    (executed in DuckDB — its SQL must ride along, so gate q189 together
    with q140 in partial Verify runs) anti-joined with the vector
    tier's drop set from the q180 from-scratch union build (maintain on
    the healthy fixture ≡ q180's roll-forward; q186 pins the degenerate
    branch separately)."""
    assert "q140_release_build" in oracle, \
        "q189 needs q140's SQL — include q140_release_build in the gate"
    man = con.execute(oracle["q140_release_build"]).df()
    _, vr = py_q180_vector_release(con, None, None)
    dropped = set(vr.loc[vr.dropped, "src_id"])
    return spark_df, man[~man.doc_id.isin(dropped)].reset_index(drop=True)


def py_q200_release_exemplars(con, spark_df, oracle):
    """Release QA exemplars: the q140 SQL manifest (run in DuckDB — gate
    q200 together with q140 in partial runs) joined to the embeddings,
    then the q194 greedy k-center recurrence per source stratum (k = 2,
    seed = min id, per-pair 3-dp rounded dots, id tie-breaks)."""
    assert "q140_release_build" in oracle, \
        "q200 needs q140's SQL — include q140_release_build in the gate"
    man = con.execute(oracle["q140_release_build"]).df()
    ids, vecs = _embeddings(con)
    emb_of = {i: v for i, v in zip(ids, vecs)}
    pools = {}
    for _, r in man.iterrows():
        did = int(r["doc_id"])
        if did not in emb_of:
            continue  # the Spark side inner-joins embeddings: unembedded
            # manifest docs (doc_id beyond the embeddings table) drop out
        st = int(str(r["source"])[3:])
        pools.setdefault(st, []).append(did)
    out = []
    for st in pools:
        pool = sorted(pools[st])
        sel = [(0, pool[0], None)]
        sel_embs = [emb_of[pool[0]]]
        sel_ids = {pool[0]}
        while len(sel) < 2 and len(sel_ids) < len(pool):
            best = None
            for cid in pool:
                if cid in sel_ids:
                    continue
                ms = max(
                    _spark_round(
                        sum(a * b for a, b in zip(emb_of[cid], e)), 3)
                    for e in sel_embs)
                key = (ms, cid)
                if best is None or key < best[0]:
                    best = (key, cid, ms)
            sel.append((len(sel), best[1], best[2]))
            sel_embs.append(emb_of[best[1]])
            sel_ids.add(best[1])
        for ordn, vid, ms in sel:
            out.append((st, ordn, vid, ms))
    return spark_df, pd.DataFrame(out, columns=[
        "stratum", "sel_ord", "vec_id", "max_prior_sim"])


def py_q182_recall_dial(con, spark_df, oracle):
    """Recall-targeted serving dial: the q145 full-corpus IVFADC model,
    served over the (nProbe, shortlist) grid, each combo's top-5 measured
    against the exact brute-force top-5 and micro-averaged to integer
    milli recall; then per recall floor the cheapest combo meeting it
    (cost order n_probe asc, shortlist asc; unreachable floors fall back
    to the best-recall combo with met=False)."""
    import math
    ids, vecs = _embeddings(con)
    dim = len(vecs[0])
    kc, citers = 8, 4
    m, ksub, iters, k = 16, 8, 3, 5
    dsub = dim // m
    cents, assign = _lloyd(vecs, kc, citers)
    resid = [[v[i] - cents[c][i] for i in range(dim)]
             for v, c in zip(vecs, assign)]
    cbs = []
    codes = [[0] * m for _ in ids]
    for s in range(m):
        scents, sassign = _lloyd([r[s * dsub:(s + 1) * dsub] for r in resid],
                                 ksub, iters)
        cbs.append(scents)
        for ri, j in enumerate(sassign):
            codes[ri][s] = j
    idx_of = {vid: i for i, vid in enumerate(ids)}
    by_cell = {}
    for i, c in enumerate(assign):
        by_cell.setdefault(c, []).append(i)
    nsqs = []
    for c in cents:
        nsq = 0.0
        for x in c:
            nsq += x * x
        nsqs.append(nsq)
    qids = [vid for vid in ids if vid % 50 == 0]
    # exact brute-force truth per query (3-dp dots, id-ascending ties)
    truth = {}
    for qid in qids:
        qv = vecs[idx_of[qid]]
        scored = []
        for cid in ids:
            if cid == qid:
                continue
            cv = vecs[idx_of[cid]]
            acc = 0.0
            for i in range(dim):
                acc += qv[i] * cv[i]
            scored.append((_spark_round(acc, 3), cid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        truth[qid] = {cid for _, cid in scored[:k]}

    def serve(nprobe, shortlist):
        out = {}
        for qid in qids:
            qv = vecs[idx_of[qid]]
            cs = []
            for j, cv in enumerate(cents):
                d = 0.0
                for i in range(dim):
                    d += qv[i] * cv[i]
                cs.append((nsqs[j] - 2.0 * d, j))
            cs.sort(key=lambda t: (t[0], t[1]))
            scored = []
            for _, cell in cs[:nprobe]:
                qr = [qv[i] - cents[cell][i] for i in range(dim)]
                parts = []
                for s in range(m):
                    qs = qr[s * dsub:(s + 1) * dsub]
                    row = []
                    for c in cbs[s]:
                        acc = 0.0
                        for i in range(dsub):
                            acc += qs[i] * c[i]
                        row.append(math.floor(acc * 1e6 + 0.5))
                    parts.append(row)
                for ci in by_cell.get(cell, []):
                    cid = ids[ci]
                    if cid == qid:
                        continue
                    sc = 0
                    for s in range(m):
                        sc += parts[s][codes[ci][s]]
                    scored.append((sc, cid))
            scored.sort(key=lambda t: (-t[0], t[1]))
            rer = []
            for _, cid in scored[:shortlist]:
                cv2 = vecs[idx_of[cid]]
                acc = 0.0
                for i in range(dim):
                    acc += qv[i] * cv2[i]
                rer.append((_spark_round(acc, 3), cid))
            rer.sort(key=lambda t: (-t[0], t[1]))
            out[qid] = {cid for _, cid in rer[:k]}
        return out

    grid = [(1, 10), (1, 100), (2, 10), (2, 100), (4, 10), (4, 100)]
    audit = []
    for p, s in grid:
        served = serve(p, s)
        n_true = sum(len(truth[q]) for q in qids)
        n_hits = sum(len(truth[q] & served[q]) for q in qids)
        audit.append((p, s, n_hits * 1000 // n_true))
    rows = []
    for f in (500, 900, 990):
        meeting = [a for a in audit if a[2] >= f]
        if meeting:
            p, s, rec = min(meeting, key=lambda a: (a[0], a[1]))
            rows.append((f, p, s, rec, True))
        else:
            p, s, rec = min(audit, key=lambda a: (-a[2], a[0], a[1]))
            rows.append((f, p, s, rec, False))
    exp = pd.DataFrame(rows, columns=["floor_milli", "n_probe", "shortlist",
                                      "recall_milli", "met"])
    return spark_df, exp


def py_q201_tombstone_serve(con, spark_df, oracle):
    """Tombstone-delete serving: the q145 chain with the taken-down ids
    (vec_id % 7 == 3) skipped pre-shortlist — IndexStore.delete's broadcast
    anti-join contract — emitted under both lifecycle stages ('tombstoned'
    = metadata-only exclusion, 'purged' = after physical removal). The two
    stages must answer identically: a purge is pure reclamation."""
    ids, vecs = _embeddings(con)
    keep = {i for i in ids if i % 7 != 3}
    base = _ivfpq_topk(ids, vecs, keep=keep)
    both = pd.concat([base.assign(stage="tombstoned"),
                      base.assign(stage="purged")], ignore_index=True)
    return spark_df, both


def py_q202_serving_churn(con, spark_df, oracle):
    """Release-over-release serving churn: the frozen-r1-model union encode
    (the q180 kernel — coarse Lloyd's + residual codebooks on vec_id % 10
    < 8 only, every vector encoded against that frozen model), served per
    query against the r1 candidate set and against r1+r2, reduced to the
    exact integer churn card (top-k overlap, milli Jaccard, top-1 flip)."""
    import math
    ids, vecs = _embeddings(con)
    dim = len(vecs[0])
    kc, citers, nprobe = 8, 4, 2
    m, ksub, iters, k, shortlist = 16, 8, 3, 5, 100
    dsub = dim // m
    old_idx = [i for i, vid in enumerate(ids) if vid % 10 < 8]
    cents, oassign = _lloyd([vecs[i] for i in old_idx], kc, citers)
    oresid = [[vecs[i][d] - cents[c][d] for d in range(dim)]
              for i, c in zip(old_idx, oassign)]
    cbs = []
    for s in range(m):
        scents, _ = _lloyd([r[s * dsub:(s + 1) * dsub] for r in oresid],
                           ksub, iters)
        cbs.append(scents)
    cassign = _assign(vecs, cents)
    codes = []
    for v, c in zip(vecs, cassign):
        r = [v[d] - cents[c][d] for d in range(dim)]
        codes.append([_assign([r[s * dsub:(s + 1) * dsub]], cbs[s])[0]
                      for s in range(m)])
    by_cell = {}
    for i, c in enumerate(cassign):
        by_cell.setdefault(c, []).append(i)
    nsqs = []
    for cv in cents:
        nsq = 0.0
        for x in cv:
            nsq += x * x
        nsqs.append(nsq)
    idx_of = {vid: i for i, vid in enumerate(ids)}

    def serve(qi, qid, eligible):
        cs = []
        for j, cv in enumerate(cents):
            d = 0.0
            for i in range(dim):
                d += vecs[qi][i] * cv[i]
            cs.append((nsqs[j] - 2.0 * d, j))
        cs.sort(key=lambda t: (t[0], t[1]))
        scored = []
        for _, cell in cs[:nprobe]:
            qr = [vecs[qi][i] - cents[cell][i] for i in range(dim)]
            parts = []
            for s in range(m):
                qs = qr[s * dsub:(s + 1) * dsub]
                row = []
                for c in cbs[s]:
                    acc = 0.0
                    for i in range(dsub):
                        acc += qs[i] * c[i]
                    row.append(math.floor(acc * 1e6 + 0.5))
                parts.append(row)
            for ci in by_cell.get(cell, []):
                cid = ids[ci]
                if cid == qid or not eligible(cid):
                    continue
                sc = 0
                for s in range(m):
                    sc += parts[s][codes[ci][s]]
                scored.append((sc, cid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        rer = []
        for _, cid in scored[:shortlist]:
            cv2 = vecs[idx_of[cid]]
            acc = 0.0
            for i in range(dim):
                acc += vecs[qi][i] * cv2[i]
            rer.append((_spark_round(acc, 3), cid))
        rer.sort(key=lambda t: (-t[0], t[1]))
        return [cid for _, cid in rer[:k]]

    rows = []
    for qi, qid in enumerate(ids):
        if qid % 50 != 0:
            continue
        old = serve(qi, qid, lambda cid: cid % 10 < 8)
        new = serve(qi, qid, lambda cid: True)
        common = len(set(old) & set(new))
        jac = (common * 1000) // (len(old) + len(new) - common)
        rows.append((qid, len(old), len(new), common, jac,
                     old[0] != new[0]))
    return spark_df, pd.DataFrame(rows, columns=[
        "q_id", "n_old", "n_new", "n_common", "jaccard_milli",
        "top1_changed"])


PY_ORACLES = {
    "q204_takedown_maintain": py_q204_takedown_maintain,
    "q206_unified_takedown": py_q206_unified_takedown,
    "q201_tombstone_serve": py_q201_tombstone_serve,
    "q202_serving_churn": py_q202_serving_churn,
    "q180_vector_release": py_q180_vector_release,
    "q186_index_maintain": py_q186_index_maintain,
    "q187_opq_index_serve": py_q187_opq_index_serve,
    "q195_filtered_index_serve": py_q195_filtered_index_serve,
    "q197_asof_index_serve": py_q197_asof_index_serve,
    "q198_pq_distortion": py_q198_pq_distortion,
    "q199_filtered_int8_serve": py_q199_filtered_int8_serve,
    "q200_release_exemplars": py_q200_release_exemplars,
    "q188_int8_index_serve": py_q188_int8_index_serve,
    "q189_maintained_release": py_q189_maintained_release,
    "q182_recall_dial": py_q182_recall_dial,
    "q183_health_verdict": py_q183_health_verdict,
    "q109_kmeans": py_q109_kmeans,
    "q113_semdedup": py_q113_semdedup,
    "q125_pq_ann": py_q125_pq_ann,
    "q127_incremental_pq": py_q127_incremental_pq,
    "q136_top_component": py_q136_top_component,
    "q144_opq_ann": py_q144_opq_ann,
    "q145_ivfpq_ann": py_q145_ivfpq_ann,
    # the persisted-index serve: same corpus, same params, frozen-disk path —
    # the answer is q145's by construction, so the oracle is shared verbatim
    "q146_index_serve": py_q145_ivfpq_ann,
    # post-rebalance serving: the degenerate kCoarse=2 store is retrained at
    # kCoarse=8 on the full corpus with the q145 params, so the swapped-in
    # index IS a fresh q145-model build — the oracle is shared verbatim
    "q181_index_rebalance": py_q145_ivfpq_ann,
    "q156_index_decontaminate": py_q156_index_decontaminate,
    "q190_int8_decontaminate": py_q190_int8_decontaminate,
    "q170_index_knn": py_q170_index_knn,
    "q175_index_recall": py_q175_index_recall,
    "q176_incremental_knn": py_q176_incremental_knn,
    "q178_index_health": py_q178_index_health,
    "q71_approx_distinct": py_q71_approx_distinct,
    "q105_approx_quantiles": py_q105_approx_quantiles,
    "q49_lsh_ann": py_q49_lsh_ann,
    "q35_blake2s_hash": py_q35_blake2s_hash,
    "q63_blake2b_slug": py_q63_blake2b_slug,
    "q51_eav_pipeline": py_q51_eav_pipeline,
    "q47_fingerprint": py_q47_fingerprint,
    "q46_simhash_pairs": py_q46_simhash_pairs,
}


def main(sf_dir, out_dir):
    import os
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Verify with named queries dumps a SUBSET and records it in names.json;
    # restrict every loop to that set so a partial gate can pass (a full
    # Verify dump writes no names.json and checks everything)
    names_path = f"{out_dir}/names.json"
    requested = set(json.load(open(names_path))) if os.path.exists(names_path) else None
    if requested is not None:
        oracle = {k: v for k, v in oracle.items() if k in requested}
    results = {}
    for name in sorted(oracle):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            results[name] = "MISSING spark output"
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            duck_df = con.execute(oracle[name]).df()
        except Exception as e:
            results[name] = f"ORACLE-ERR {e}"
            continue
        try:
            results[name] = compare(name, spark_df, duck_df)
        except Exception as e:
            # e.g. array columns that pandas can't sort/hash — fail just this
            # query, mirroring the ORACLE-ERR handling, not the whole run
            results[name] = f"COMPARE-ERR {type(e).__name__}: {e}"
    # queries with a Python-side oracle (engine hashes DuckDB can't express)
    for name, fn in sorted(PY_ORACLES.items()):
        if requested is not None and name not in requested:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            # a vanished dump must surface as a FAIL, not shrink the
            # denominator silently (mirrors the SQL-oracle loop)
            results[name] = "MISSING spark output"
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            a, b = fn(con, spark_df, oracle)
            results[name] = compare(name, a, b)
        except Exception as e:
            results[name] = f"PYORACLE-ERR {type(e).__name__}: {e}"
    # queries without oracle: rows-only
    import os
    for d in sorted(os.listdir(out_dir)):
        if os.path.isdir(f"{out_dir}/{d}") and d not in oracle and d not in PY_ORACLES:
            files = glob.glob(f"{out_dir}/{d}/*.parquet")
            n = sum(len(pd.read_parquet(f)) for f in files) if files else 0
            results[d] = None if n > 0 else "ROWS-ONLY: zero rows"
    ok = sum(1 for v in results.values() if v is None)
    for name, v in sorted(results.items()):
        print(f"{'PASS' if v is None else 'FAIL'} {name}" + (f"  {v}" if v else ""))
    print(f"\n{ok}/{len(results)} pass")
    return 0 if ok == len(results) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
