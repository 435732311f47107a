"""Checks of every workload's outputs against DuckDB, computed apart from
the program on the same parquet inputs.

`check(workload, result, work)` returns {(pass, op name): reason} for
every operation whose output is wrong; run.py counts those operations
as failed and reports `correct: false`.
"""
import json
import math
import re
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MODELS = ["baseline", "itemcf", "als"]
K_NEIGHBOURS = 10   # Train's default K_NEIGHS
MG_K = 16           # Monitor.run sketch size used by the harness
HORIZON = 24        # Monitor.run horizon (quanta) used by the harness


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def check(workload, result, work):
    con = connect(work / "data")
    fn = {"recsys": recsys, "query_mix": query_mix, "monitor": monitor}[workload]
    return fn(con, result, work)


def passes(result):
    return sorted({o["pass"] for o in result["ops"]})


def outputs(result):
    return {(o["pass"], o["name"]): o["out"] for o in result["ops"] if o["ok"]}


# ---------------------------------------------------------------- recsys

def recsys(con, result, work):
    con.execute("""CREATE TABLE reviews AS
        SELECT o_custkey AS user_id, l_partkey AS business_id,
               ((l_quantity::BIGINT % 5) + 1)::DOUBLE AS stars
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey""")
    con.execute("""CREATE TABLE gt AS SELECT user_id, business_id, avg(stars) AS stars
        FROM reviews GROUP BY ALL""")
    con.execute("""CREATE TABLE pairs AS SELECT c_custkey AS user_id, p_partkey AS business_id
        FROM customer, part WHERE c_custkey % 19 = 0 AND p_partkey % 23 = 0""")
    con.execute("""CREATE TABLE baseline_exp AS
        SELECT p.user_id, p.business_id,
               round(coalesce((ua + ba) / 2.0, ua, ba, 2.5), 6) AS pred
        FROM pairs p
        LEFT JOIN (SELECT user_id, avg(stars) AS ua FROM reviews GROUP BY 1) u USING (user_id)
        LEFT JOIN (SELECT business_id, avg(stars) AS ba FROM reviews GROUP BY 1) b USING (business_id)""")
    n_pairs = con.execute("SELECT count(*) FROM pairs").fetchone()[0]
    outs = outputs(result)
    bad = {}
    for p in passes(result):
        run = work / "run" / f"pass{p}"
        for m in MODELS:
            if (p, f"predict.{m}") not in outs:
                continue
            con.execute(f"""CREATE OR REPLACE TABLE pred AS
                SELECT user_id::BIGINT AS user_id, business_id::BIGINT AS business_id,
                       stars::DOUBLE AS pred
                FROM read_json_auto('{run}/pred/{m}/*.json')""")
            why = predictions(con, m, n_pairs)
            if why:
                bad[(p, f"predict.{m}")] = why
            ev = outs.get((p, f"evaluate.{m}"))
            if ev is not None:
                why = evaluation(con, ev)
                if why:
                    bad[(p, f"evaluate.{m}")] = why
        if (p, "train.itemcf") in outs:
            why = neighbours(con, run / "art" / "itemcf" / "neighbors")
            if why:
                bad[(p, "train.itemcf")] = why
    return bad


def predictions(con, model, n_pairs):
    n, distinct, missing = con.execute("""SELECT
        (SELECT count(*) FROM pred),
        (SELECT count(*) FROM (SELECT DISTINCT user_id, business_id FROM pred)),
        (SELECT count(*) FROM pairs ANTI JOIN pred USING (user_id, business_id))""").fetchone()
    if (n, distinct, missing) != (n_pairs, n_pairs, 0):
        return f"{n} predictions, {distinct} distinct, {missing} of {n_pairs} test pairs missing"
    if model == "baseline":
        diff, = con.execute("""SELECT max(abs(p.pred - e.pred)) FROM pred p
            JOIN baseline_exp e USING (user_id, business_id)""").fetchone()
        if diff is None or diff > 1.5e-6:
            return f"baseline cascade differs by {diff}"
    if model == "als":
        cold, = con.execute("""SELECT count(*) FROM pred
            WHERE (user_id NOT IN (SELECT user_id FROM gt)
                   OR business_id NOT IN (SELECT business_id FROM gt))
              AND pred <> 2.5""").fetchone()
        if cold:
            return f"{cold} unseen-user/item pairs not predicted 2.5"
        fit, base = con.execute("""SELECT
            sqrt(avg((p.pred - g.stars) ^ 2)),
            sqrt(avg(((SELECT avg(stars) FROM gt) - g.stars) ^ 2))
            FROM pred p JOIN gt g USING (user_id, business_id)""").fetchone()
        if fit is None or not fit < base:
            return f"training RMSE {fit} not below the global mean's {base}"
    return None


def evaluation(con, text):
    try:
        got = json.loads(text)
    except ValueError:
        return f"Evaluate printed no JSON: {text[:200]}"
    rmse, missing = con.execute("""SELECT
        (SELECT sqrt(avg((p.pred - g.stars) ^ 2)) FROM pred p
            JOIN gt g USING (user_id, business_id) WHERE NOT isnan(p.pred)),
        (SELECT count(*) FROM gt ANTI JOIN pred USING (user_id, business_id))""").fetchone()
    if got.get("missing_pairs") != missing:
        return f"missing_pairs {got.get('missing_pairs')} != {missing}"
    r = got.get("rmse")
    if rmse is None:
        return None if r == "N/A" else f"rmse {r}, expected N/A"
    if not isinstance(r, (int, float)) or abs(r - rmse) > 2e-6:
        return f"rmse {r} != {rmse:.9f}"
    return None


def neighbours(con, path):
    most, selfs = con.execute(f"""SELECT max(n), sum(s) FROM (
        SELECT biz, count(*) AS n, count(*) FILTER (WHERE biz = neighbor) AS s
        FROM read_parquet('{path}/*.parquet') GROUP BY biz)""").fetchone()
    if most is None or most > K_NEIGHBOURS or selfs:
        return f"neighbour lists: max {most} (K={K_NEIGHBOURS}), {selfs} self-neighbours"
    return None


# ---------------------------------------------------------------- query_mix

def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, list):
        return "[" + ",".join(str(canon(x)) for x in v) + "]"
    return str(v)


def rows(con, sql):
    got = con.execute(sql).fetchall()
    cols = [d[0] for d in con.description]
    perm = [cols.index(c) for c in sorted(cols)]
    return sorted(cols), sorted(tuple(canon(r[i]) for i in perm) for r in got)


def query_mix(con, result, work):
    """Each gate's rows against its DuckDB oracle, canonicalized like the
    repository's own check (sorted rows and columns, %.12g floats)."""
    bad = {}
    oracles = result["extra"]["oracles"]
    ok_first = {o["name"] for o in result["ops"] if o["pass"] == 0 and o["ok"]}
    for gate, sql in oracles.items():
        if gate not in ok_first:
            continue
        why = None
        try:
            gcols, got = rows(con, f"SELECT * FROM read_parquet('{work}/run/check/{gate}/*.parquet')")
            if sql:
                ecols, exp = rows(con, sql)
                if gcols != ecols:
                    why = f"columns {gcols} != {ecols}"
                elif got != exp:
                    why = f"{len(got)} rows differ from the oracle's {len(exp)}"
            elif not got:
                why = "no rows"
        except duckdb.Error as e:
            why = f"DuckDB: {e}"
        if why:
            for p in passes(result):
                bad[(p, gate)] = why
    return bad


# ---------------------------------------------------------------- monitor

PANEL = re.compile(r"^\[monitor\] (\S+)\s+hour=(-?\d+)\s+n=(\d+)\s+(.*)$")
DM_PANEL = re.compile(r"^\[monitor\] (\S+)\s+t_ref=(-?\d+)\s+w=(\S+)\s+top: (.*)$")


def monitor(con, result, work):
    con.execute("""CREATE TABLE ev AS SELECT event_type AS key,
        floor(epoch(ts))::BIGINT AS sec, floor(epoch(ts))::BIGINT // 3600 AS q,
        user_id::VARCHAR AS item FROM events""")
    qmax, = con.execute("SELECT max(q) FROM ev").fetchone()
    exact = {(k, q): n for k, q, n in con.execute(
        "SELECT key, q, count(*) FROM ev GROUP BY ALL").fetchall()}
    items = {}
    for k, q, i, n in con.execute("SELECT key, q, item, count(*) FROM ev GROUP BY ALL").fetchall():
        items.setdefault((k, q), {})[i] = n
    panel_keys = set()
    for k, q in exact:
        newest = sorted((qq for kk, qq in exact if kk == k and qq > qmax - HORIZON), reverse=True)[:3]
        if q in newest:
            panel_keys.add((k, q))
    t_ref = dict(con.execute("SELECT key, max(sec) FROM ev GROUP BY 1").fetchall())
    bad = {}
    for (p, name), text in outputs(result).items():
        fam = name.split(".", 1)[1]
        lines = [l for l in text.splitlines() if l.startswith("[monitor]")]
        why = (dm_panel(lines, t_ref) if fam == "dm"
               else sketch_panel(fam, lines, panel_keys, exact, items))
        if why:
            bad[(p, name)] = why
    return bad


def sketch_panel(fam, lines, panel_keys, exact, items):
    seen = set()
    for line in lines:
        m = PANEL.match(line)
        if not m:
            return f"unparsed panel line: {line[:120]}"
        key, q, n, rest = m.group(1), int(m.group(2)), int(m.group(3)), m.group(4)
        seen.add((key, q))
        if n != exact.get((key, q)):
            return f"{key} hour {q}: n={n}, exact {exact.get((key, q))}"
        counts = items[(key, q)]
        if fam == "mg":
            for t in filter(None, rest.removeprefix("top:").strip().split(", ")):
                item, est = t.rsplit(":", 1)
                true = counts.get(item, 0)
                if not true - n / (MG_K + 1) <= int(est) <= true:
                    return f"{key} hour {q}: talker {item} est {est}, exact {true}"
        if fam == "cm":
            heavy = int(rest.split("heaviest<=")[1])
            if heavy < max(counts.values()):
                return f"{key} hour {q}: heaviest bound {heavy} < exact max {max(counts.values())}"
    if seen != panel_keys:
        return f"panel rows {len(seen)}, expected {len(panel_keys)} (newest 3 in-horizon quanta per key)"
    return None


def dm_panel(lines, t_ref):
    seen = {}
    for line in lines:
        m = DM_PANEL.match(line)
        if not m:
            return f"unparsed panel line: {line[:120]}"
        seen[m.group(1)] = (int(m.group(2)), float(m.group(3)))
    if set(seen) != set(t_ref):
        return f"panel keys {sorted(seen)} != {sorted(t_ref)}"
    for k, (t, w) in seen.items():
        if t != t_ref[k] or not w > 0:
            return f"{k}: t_ref={t} (latest event {t_ref[k]}), w={w}"
    return None
