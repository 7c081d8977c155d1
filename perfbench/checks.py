"""Independent checks of a benchmark run's outputs, outside the timed window.

The EAV release is recomputed without Spark, by the repository's Python
oracle (tools/check.py) over the generated input, and every EAV read
request by DuckDB SQL over the released store. Every index read request is
recomputed in Python from the store state it was served from (frozen model
and servable codes) and the raw vectors. The maintain nights are checked
inside the harness, against a from-scratch roll-forward. A check returns
the number of operations whose output was wrong.
"""
import importlib.util
import json
import math
import os

import duckdb


def load_oracles(root):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    chk = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(chk)
    return chk


def _store_view(con, store):
    con.execute(
        f"CREATE OR REPLACE VIEW store AS SELECT * FROM read_parquet('{store}/*/*.parquet', "
        "hive_partitioning = true, hive_types_autocast = false)")


def eav_release(chk, m):
    """The first cycle's store against py_q51_eav_pipeline: release 1 from
    the original input, release 2 from the revised one. Any other cycle
    whose store fingerprint differed was already counted by the harness."""
    con = duckdb.connect()
    _store_view(con, m["store"])
    rows = con.execute("SELECT * FROM store").df()
    wrong = 0
    for rel, inp in ((1, m["in1"]), (2, m["in2"])):
        for t in ("lineitem", "supplier"):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{inp}/{t}.parquet/*.parquet')")
        got = rows[rows["release_id"] == rel].reset_index(drop=True)
        got, exp = chk.py_q51_eav_pipeline(
            con, got, {"q64_pipeline_sql": m["oracle"]})
        if rel != 1:
            # py_q51 describes release 1; the key columns of another release
            # differ only in the release id they carry
            exp = exp.copy()
            exp["release_id"] = rel
            exp["partition_id"] = f"2026_8_{rel}|supplier"
            exp["hash"] = [
                chk.hashlib.blake2s((d + "supplier" + a + mt + str(rel)).encode(),
                                    key=chk.RECORD_KEY, digest_size=12).hexdigest()
                for d, a, mt in zip(exp["date"], exp["areaCode"], exp["metric"])]
        diff = chk.compare(f"release {rel}", got, exp)
        if diff:
            print(f"[check] eav_release release {rel}: {diff}")
            wrong = 1
    return wrong * m["ops"]


def _series(con, m, release, metric, area=None, since=None):
    """(areaCode, date, value) rows of one metric of one release, by SQL
    over the store parquet; value is the payload's number or None."""
    sql = ("SELECT areaCode, CAST(date AS VARCHAR), "
           "CAST(json_extract_string(payload, '$.value') AS DOUBLE) "
           "FROM store WHERE partition_id = ? AND metric = ?")
    args = [m["partitions"][str(release)], metric]
    if area is not None:
        sql += " AND areaCode = ?"
        args.append(area)
    if since is not None:
        sql += " AND date >= CAST(? AS DATE)"
        args.append(since)
    return con.execute(sql + " ORDER BY areaCode, date", args).fetchall()


def _expected_eav(con, m, q):
    a, mt = q["area"], q["metric"]
    if q["kind"] == "latest":
        s = [r for r in _series(con, m, 2, mt, area=a) if r[2] is not None]
        return [[a, mt, s[-1][1], s[-1][2]]] if s else []
    if q["kind"] == "blob":
        s = _series(con, m, 2, mt, area=a)
        return [[a, mt, [[d, v] for _, d, v in s]]] if s else []
    if q["kind"] == "percentiles":
        s = [r for r in _series(con, m, 2, mt) if r[2] is not None]
        if not s:
            return []
        last = max(d for _, d, _ in s)
        vals = sorted(v for _, d, v in s if d == last)
        n = len(vals)
        # percentile_disc: the smallest value whose cumulative count
        # reaches ceil(p * n)
        return [[mt, vals[0], vals[-1]] +
                [vals[math.ceil(p * n) - 1] for p in (0.25, 0.5, 0.75)]]
    today = _series(con, m, 2, mt, since=m["delta_from"])
    before = {(ac, d): v for ac, d, v in _series(con, m, 1, mt, since=m["delta_from"])}
    out = []
    for ac, d, v in today:
        prev = before.get((ac, d))
        # GREATEST ignores a NULL argument
        out.append([ac, mt, d, 0.0 if v is None else
                    max(v - (0.0 if prev is None else prev), 0.0)])
    return out


def _got_eav(q):
    rows = q["rows"]
    if q["kind"] == "blob":
        # the blob is JSON text; a null value is left out of its object
        return [[a, mt, [[e["date"], e.get("value")] for e in json.loads(b)]]
                for a, mt, b in rows]
    return sorted(rows, key=lambda r: [str(x) for x in r])


def eav_serve(m):
    """Every timed read request's answer against DuckDB SQL over the
    first cycle's store; every cycle's store held the same rows."""
    con = duckdb.connect()
    _store_view(con, m["store"])
    wrong = 0
    for q in m["requests"]:
        exp = sorted(_expected_eav(con, m, q), key=lambda r: [str(x) for x in r])
        if _got_eav(q) != exp:
            print(f"[check] eav {q['kind']} area={q['area']} metric={q['metric']}: "
                  f"got {_got_eav(q)[:3]} expected {exp[:3]}")
            wrong += 1
    return wrong


def _dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _ivfpq_serve(chk, state, vec, queries, nprobe, k, shortlist, keep=None):
    """The IVFADC serving chain over a frozen model and servable codes:
    probe by (|c|^2 - 2 q.c, cell), integer ADC of the query's residual,
    shortlist by (adc desc, id), 3-dp exact rerank, top k by (score desc,
    id). Returns (q_id, cand_id, score) rows."""
    cents, cbs = state["centroids"], state["codebooks"]
    m = len(cbs)
    dsub = len(cents[0]) // m
    nsq = [_dot(c, c) for c in cents]
    by_cell = {}
    for cid, cell, codes in state["codes"]:
        by_cell.setdefault(cell, []).append((cid, codes))
    out = []
    for qid in queries:
        q = vec[qid]
        probe = sorted((nsq[j] - 2.0 * _dot(q, c), j) for j, c in enumerate(cents))
        scored = []
        for _, cell in probe[:nprobe]:
            qr = [q[i] - cents[cell][i] for i in range(len(q))]
            parts = [[math.floor(_dot(qr[s * dsub:(s + 1) * dsub], c) * 1e6 + 0.5)
                      for c in cbs[s]] for s in range(m)]
            for cid, codes in by_cell.get(cell, []):
                if cid == qid or (keep is not None and cid not in keep):
                    continue
                scored.append((sum(parts[s][codes[s]] for s in range(m)), cid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        rer = sorted(((chk._spark_round(_dot(q, vec[cid]), 3), cid)
                      for _, cid in scored[:shortlist]), key=lambda t: (-t[0], t[1]))
        out += [[qid, cid, sc] for sc, cid in rer[:k]]
    return out


def index_serve(chk, m):
    """Every phase-0 index read request against a Python recomputation
    from the store state it was served from; later phases were compared
    with phase 0 by the harness."""
    con = duckdb.connect()
    vec, label = {}, {}
    for path in m["inputs"]:
        for vid, emb, lab in con.execute(
                f"SELECT vec_id, embedding, label FROM read_parquet('{path}/*.parquet')").fetchall():
            vec[vid] = [float(x) for x in emb]
            label[vid] = lab
    states = {}
    wrong = 0
    for q in m["requests"]:
        night = q["night"]
        if night not in states:
            with open(os.path.join(m["state"], f"state-{night}.json")) as f:
                states[night] = json.load(f)
        st = states[night]
        args = (chk, st, vec, q["ids"], m["nprobe"])
        if q["kind"] == "query":
            exp = _ivfpq_serve(*args, m["k"], m["shortlist"])
        elif q["kind"] == "query_filtered":
            keep = {cid for cid, _, _ in st["codes"] if label[cid] % 2 == 0}
            exp = _ivfpq_serve(*args, m["k"], m["shortlist"], keep=keep)
        else:
            best = {}
            for qid, cid, sc in _ivfpq_serve(*args, m["shortlist"], m["shortlist"]):
                # the best eval match: cosine desc, then the eval id asc
                if sc >= m["threshold"] and (cid not in best or (sc, -qid) > best[cid]):
                    best[cid] = (sc, -qid)
            exp = [[cid, -nq, sc] for cid, (sc, nq) in best.items()]
        exp = sorted(exp)
        got = sorted(q["rows"])
        if got != exp:
            print(f"[check] index {q['kind']} night {night} ids={q['ids']}: "
                  f"got {got[:3]} expected {exp[:3]}")
            wrong += 1
    return wrong


def run(root, manifest_path):
    with open(manifest_path) as f:
        m = json.load(f)
    chk = load_oracles(root)
    if m["kind"] == "eav_release_serve":
        return eav_release(chk, m) + eav_serve(m)
    return index_serve(chk, m)
