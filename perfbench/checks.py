"""Correctness rules judged on the counts the JVM gathers after each cycle,
and the DuckDB oracle compare of the serve-mix analytics queries."""
import glob
import math

# Each stage: rows in = rows out + rows dropped, as named count fields.
CONSERVATION = {
    # listing rows either go to the process list or are unchanged
    "cdc": (["listing"], ["process"], ["unchanged"]),
    # catalog rows in plus fresh rows = catalog rows out plus removed rows
    "upsert": (["catalog_in", "process"], ["catalog_out"], ["delete_with_id"]),
    # documents to process either yield chunks or are blank
    "docpipe": (["docs_in"], ["docs_out"], ["docs_blank"]),
    # every chunk gets an embedding row (blank chunks keep a null vector)
    "enrich": (["chunks"], ["embedded"], []),
    # export rows: previous plus fresh = published plus replaced/deleted
    "export": (["export_in", "embedded"], ["export_out"], ["export_removed"]),
    # index entries: previous plus delta = current plus replaced ids
    "ann.write": (["ann_in", "ann_delta"], ["ann_out_distinct"], ["ann_replaced"]),
}


def conservation_failures(counts, expected=None):
    """Violations of the per-stage conservation rules and of the
    generator's delta mix, one message each. `counts` is one cycle's
    record; `expected` is the generator's record for that cycle (its
    `unchanged` count is the CDC rows-dropped side)."""
    c = dict(counts)
    if expected is not None:
        c["unchanged"] = expected["unchanged"]
    bad = []
    for stage, (ins, outs, dropped) in CONSERVATION.items():
        if any(k not in c for k in ins + outs + dropped):
            continue
        rin = sum(c[k] for k in ins)
        rout = sum(c[k] for k in outs)
        rdrop = sum(c[k] for k in dropped)
        if rin != rout + rdrop:
            bad.append(f"cycle {c.get('cycle')}: {stage} rows in {rin} != "
                       f"out {rout} + dropped {rdrop}")
    if expected is not None:
        want = {"reason_new": expected["new"],
                "reason_updated": expected["modified"],
                "reason_deleted": expected["deleted"],
                "delete_updated": expected["modified"],
                "listing": expected["listing"]}
        for k, v in want.items():
            if k in c and c[k] != v:
                bad.append(f"cycle {c.get('cycle')}: {k} = {c[k]}, "
                           f"generator says {v}")
    if c.get("catalog_ids_distinct", 0) != c.get("catalog_out", 0):
        bad.append(f"cycle {c.get('cycle')}: catalog ids not unique")
    if c.get("catalog_paths_distinct", 0) != c.get("catalog_out", 0):
        bad.append(f"cycle {c.get('cycle')}: catalog file paths not unique")
    if c.get("ann_out", 0) != c.get("ann_out_distinct", 0):
        bad.append(f"cycle {c.get('cycle')}: duplicate vector ids in the index")
    if c.get("max_section", 0) >= 1000 or c.get("max_chunk", 0) >= 100:
        bad.append(f"cycle {c.get('cycle')}: chunk keys overflow the vector id")
    return bad


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rows(rel):
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_canon(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def oracle_failures(sf_dir, dump_dir, oracle_sql, names):
    """Compare each analytics dump with DuckDB running its oracle SQL over
    the same tables (column-name sort, exact value compare). Queries
    without an oracle must still return rows."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    bad = []
    for name in names:
        files = glob.glob(f"{dump_dir}/{name}/*.parquet")
        if not files:
            bad.append(f"{name}: no output")
            continue
        s_cols, s_rows = _rows(con.sql("SELECT * FROM read_parquet([" +
                                       ",".join(f"'{f}'" for f in files) + "])"))
        if name not in oracle_sql:
            if not s_rows:
                bad.append(f"{name}: empty result")
            continue
        o_cols, o_rows = _rows(con.sql(oracle_sql[name]))
        if s_cols != o_cols:
            bad.append(f"{name}: columns {s_cols} != oracle {o_cols}")
        elif s_rows != o_rows:
            bad.append(f"{name}: {len(s_rows)} rows differ from oracle "
                       f"({len(o_rows)} rows)")
    return bad
