"""Correctness gates, run with DuckDB after the JVM has exited (outside
every timed region). Each gate returns (name, problem or None)."""
import math
import os

import duckdb


def _canon(rows):
    out = []
    for row in rows:
        vals = []
        for v in row:
            if v is None:
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else repr(v))
            elif isinstance(v, (list, tuple)):
                vals.append(str(list(v)))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def _rows(con, sql):
    """Rows of `sql` with columns ordered by name, canonicalised and sorted."""
    rel = con.execute(sql)
    names = [d[0].lower() for d in rel.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return [names[i] for i in order], _canon(
        [[r[i] for i in order] for r in rel.fetchall()])


def _parquet(path):
    """DuckDB source for a parquet file or a Spark output directory."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/**/*.parquet', hive_partitioning=false)"
    return f"read_parquet('{path}')"


def _compare(name, expected, got):
    (ec, er), (gc, gr) = expected, got
    if ec != gc:
        return name, f"columns expected {ec}, got {gc}"
    if er != gr:
        diff = [(e, g) for e, g in zip(er, gr) if e != g][:2]
        return name, f"rows expected {len(er)}, got {len(gr)}; first differences {diff}"
    return name, None


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    return con


def etl(body, manifest):
    """Landed rows equal the p1 x p2 x g1 oracle over every generated day,
    and every landed page carries its day's generated payload bytes."""
    con = _connect()
    o = body["oracle"]
    expected = []
    cols = None
    for day in manifest["days"]:
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                    + _parquet(f"{day}/documents.parquet"))
        cols, rows = _rows(con, f"""
            SELECT doc_id, manifest_id, pub_date, page_file
            FROM ({o['p1']}) p1 JOIN ({o['p2']}) p2 USING (doc_id)
            JOIN ({o['g1']}) g1 USING (doc_id)
            WHERE manifest_id IS NOT NULL""")
        expected += rows
    sink = _parquet(body["sink"])
    gates = [_compare("etl landed rows equal the oracle", (cols, sorted(expected)),
                      _rows(con, f"SELECT doc_id, manifest_id, pub_date, page_file FROM {sink}"))]
    payloads = "[" + ", ".join(f"'{d}/payloads.parquet'" for d in manifest["days"]) + "]"
    bad = con.execute(f"""
        SELECT count(*) FILTER (WHERE p.payload IS DISTINCT FROM s.payload)
        FROM {sink} s LEFT JOIN read_parquet({payloads}) p USING (doc_id)""").fetchone()[0]
    gates.append(("etl landed payloads equal the generated bytes",
                  None if bad == 0 else f"{bad} pages carry other bytes"))
    return gates


def curate(body):
    """The first measured pass: each step's output equals its oracle SQL on
    that step's input. Every other pass: each step's output equals the
    first measured pass's."""
    con = _connect()
    passes = body["passes"][1:]  # the first entry is the warm-up pass
    ref = passes[0]
    gates, ref_rows = [], {}
    for step in ref:
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                    + _parquet(f"{step['input']}/documents.parquet"))
        got = _rows(con, f"SELECT * FROM {_parquet(step['output'])}")
        ref_rows[step["step"]] = got
        gates.append(_compare(f"curate {step['key']} equals its oracle",
                              _rows(con, body["oracle"][step["key"]]), got))
    for k, steps in enumerate(passes[1:], start=2):
        for step in steps:
            gates.append(_compare(f"curate pass {k} {step['step']} equals the checked pass",
                                  ref_rows[step["step"]],
                                  _rows(con, f"SELECT * FROM {_parquet(step['output'])}")))
    return gates


def stream(body, manifest):
    """Per phase: the sink holds every generated event_id exactly once and
    equals its batch twin, the distinct rows of the same files."""
    con = _connect()
    gates = []
    cols = "event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props"
    for ph in body["phases"]:
        name = ph["name"]
        gen = manifest["phases"][int(name[len("phase"):])]
        sink = _parquet(ph["sink"])
        src = f"read_parquet('{gen['dir']}/*.parquet')"
        n, ids = con.execute(f"SELECT count(*), count(DISTINCT event_id) FROM {sink}").fetchone()
        want = con.execute(f"SELECT count(DISTINCT event_id) FROM {src}").fetchone()[0]
        gates.append((f"stream {name} holds each event_id once",
                      None if n == ids == want else
                      f"{n} rows, {ids} distinct ids, {want} generated ids"))
        gates.append(_compare(f"stream {name} equals its batch twin",
                              _rows(con, f"SELECT DISTINCT {cols} FROM {src}"),
                              _rows(con, f"SELECT {cols} FROM {sink}")))
    return gates
