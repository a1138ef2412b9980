#!/usr/bin/env python3
"""Independent Delta-protocol shape validator.

Parses a graft-delta table's `_delta_log/*.json` version files and
`*.checkpoint.{json,parquet}` checkpoints with plain `json` + DuckDB's
parquet reader — deliberately sharing ZERO code with the Scala engine —
and asserts the wire-format invariants the Delta Lake protocol
(VLDB'20 design) requires:

  1. version files named %020d.json; versions after the newest
     checkpoint contiguous (no torn log);
  2. version 0 (when retained) carries a `protocol` action;
     minReaderVersion/minWriterVersion sane everywhere;
  3. exactly one `metaData` per committing version at most, `id`
     stable across the table's whole history, `format.provider` =
     parquet, `schemaString` valid JSON;
  4. `remove` actions reference previously-added paths; no path is
     added and removed in the same version; `add.stats` (when present)
     parses as JSON;
  5. the latest snapshot's live files exist on disk with the logged
     sizes;
  6. CHECK constraints (`delta.constraints.*` in the configuration)
     imply minWriterVersion >= 3 — a stock writer that can't enforce
     them must be refused, not allowed to violate them;
  7. both checkpoint formats agree with each other (protocol,
     metaData, txn ledger, add set), checkpoint adds carry
     dataChange=false, and — when the full version prefix survives —
     the checkpoint equals an independent replay of versions 0..C;
  8. `_last_checkpoint` (when present) points at an existing
     checkpoint; a declared `parts` count matches the multi-part files
     on disk. Multi-part classic checkpoints
     (`N.checkpoint.K-of-P.parquet`) count only when COMPLETE; an
     incomplete set is ignored per the protocol, conflicting part
     totals are corruption, and a complete set must agree with the
     other formats and the replay like any checkpoint.
  9. partitioned layout: every live add's `partitionValues` keys equal
     the metaData `partitionColumns`; each file's path carries the
     hive `col=value` directory segment its partitionValues claim;
     partition columns are EXCLUDED from the data files' physical
     columns (they live in the path, per the protocol), and no data
     file carries columns outside the logged schema.
 12. deletion vectors: every live add's `deletionVector` references an
     existing `_deletion_vectors/*.bin` sidecar whose size matches, the
     GDV1 payload decodes to a strictly-ascending index array whose
     length equals the logged cardinality and stays below the file's
     row count, and the protocol sits at the table-features gate
     (reader 3 / writer 7) listing `deletionVectors`.
 11. change data feed: `cdc` actions reference `_change_data/` files
     that exist on disk with the logged sizes and are NEVER also
     `add`ed as data; their rows reconcile with the commit's file
     actions — update_preimage and update_postimage counts match, and
     (when every touched file carries row-count stats) the net row
     delta of the data files equals insert + postimage - preimage -
     delete of the change rows.
 17. type widening: a `delta.typeChanges` history on any schema field
     implies the protocol lists `typeWidening` in BOTH feature sets at
     the features gate (3,7), and every recorded change is a widening
     per the protocol matrix — a narrowing in the history means old
     files physically hold values the committed type cannot represent.
 18. in-commit timestamps: `delta.enableInCommitTimestamps=true`
     implies the `inCommitTimestamp` writer feature is gated, every
     version at or after the enablement version carries a stamped
     commitInfo, and the stamps are strictly monotone.
 19. row tracking: the property implies rowTracking + domainMetadata
     at the writer-features gate; the `delta.rowTracking` domain holds
     the id high-water mark; every live add carries a baseRowId whose
     [base, base+n) range stays under the mark and overlaps no other
     file's — or physically carries the materialized __graft_row_id
     column (a compacted rewrite).
 20. version checksums: each `N.crc` (when the full version prefix
     survives) equals an independent replay of versions 0..N —
     tableSizeBytes, numFiles, deleted-record count, protocol; a
     mismatch means the log was torn or bit-rotted after commit.
 21. v2 checkpoints: a `N.checkpoint.<uuid>.json` manifest carries
     exactly one checkpointMetadata with the matching version; every
     `sidecar` reference exists under `_sidecars/` with the logged
     size; the manifest ∪ sidecar actions pass the same cross-format
     and replay-equality checks as any checkpoint; and a v2 checkpoint
     (or `delta.checkpointPolicy=v2`) implies the protocol lists
     `v2Checkpoint` in BOTH feature sets at the features gate.
 22. legacy features at the features gate: at minWriterVersion 7, CHECK
     constraints imply a listed `checkConstraints` writer feature and
     `delta.appendOnly=true` a listed `appendOnly` (the legacy ladder
     implies nothing there; compare invariant 13 for changeDataFeed).
 23. domain metadata: a version that commits a `domainMetadata` action
     leaves the protocol at writer 7 listing the `domainMetadata`
     writer feature (the protocol permits the action only there).
 24. file stats: every live add whose `stats` carries `n` holds exactly
     n rows (the parquet footer's row count), and each logged
     `min.<c>` / `max.<c>` bounds the file's values of column c, read
     with pyarrow — numbers and dates exactly, strings in UTF-8 byte
     order, timestamps at the engine's whole-second floor (min) and
     ceiling (max). Skipping trusts these bounds to drop files.

Usage: python3 tools/delta_validate.py TABLE_DIR [TABLE_DIR...]
Exit 0 = every table passes; 1 = at least one invariant violated.
"""
import sys, os, json, re

V_RE = re.compile(r"^(\d{20})\.json$")
CP_RE = re.compile(r"^(\d{20})\.checkpoint\.(json|parquet)$")
MP_RE = re.compile(r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")
V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\."
    r"([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})\.json$")


def load_actions(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def norm_map(m):
    """DuckDB surfaces parquet MAP columns as {'key': [...], 'value':
    [...]}; JSON actions carry plain objects. Normalize both to dict."""
    if (isinstance(m, dict) and set(m.keys()) == {"key", "value"}
            and isinstance(m.get("key"), list)):
        return dict(zip(m["key"], m["value"]))
    return dict(m or {})


class Replay:
    """Minimal independent replayer: one pass over action lines."""

    def __init__(self):
        self.live = {}          # path -> add action fields
        self.schema = None
        self.part_cols = []
        self.config = {}
        self.protocol = None
        self.txns = {}
        self.meta_ids = set()
        self.problems = []
        self.cdc = {}           # version -> [cdc action fields]
        self.domains = {}       # domainMetadata: domain -> configuration
        self.net_rows = {}      # version -> adds_n - removes_n, or None

    def _rows_of(self, add_fields):
        """LIVE rows of an add: physical row count minus its deletion
        vector's cardinality — the quantity CDF change rows reconcile
        against (a DV delete re-adds the same physical file; only the
        vector grows)."""
        try:
            n = int(json.loads(add_fields["stats"])["n"])
        except Exception:
            return None
        dv = add_fields.get("deletionVector") or {}
        return n - int(dv.get("cardinality") or 0)

    def apply_version(self, v, actions):
        n_meta = 0
        adds_v, removes_v = set(), set()
        cdc_v = []
        adds_n, removes_n, stats_complete = 0, 0, True
        # invariant 14: the table's config BEFORE this commit governs
        # the append-only gate — a writer derives its commit from the
        # prior snapshot, and the optimistic-commit conflict forces a
        # re-derivation (and re-gate) when the property flips underneath
        append_only_before = self.config.get("delta.appendOnly") == "true"
        data_removes = []
        has_domain = False
        for a in actions:
            if "add" in a:
                f = a["add"]
                p = f.get("path")
                if p is None:
                    self.problems.append(f"v{v}: add without path")
                    continue
                adds_v.add(p)
                if "stats" in f and f["stats"] is not None:
                    try:
                        json.loads(f["stats"])
                    except Exception:
                        self.problems.append(f"v{v}: add.stats not JSON for {p}")
                n = self._rows_of(f)
                if n is None:
                    stats_complete = False
                else:
                    adds_n += n
                self.live[p] = f
            elif "remove" in a:
                p = a["remove"].get("path")
                if p not in self.live and p not in adds_v:
                    self.problems.append(f"v{v}: remove of never-added {p}")
                removes_v.add(p)
                if a["remove"].get("dataChange", True) is not False:
                    data_removes.append(p)
                n = self._rows_of(self.live.get(p, {}))
                if n is None:
                    stats_complete = False
                else:
                    removes_n += n
                self.live.pop(p, None)
            elif "cdc" in a:
                f = a["cdc"]
                p = f.get("path")
                if p is None:
                    self.problems.append(f"v{v}: cdc without path")
                    continue
                if not p.startswith("_change_data/"):
                    self.problems.append(
                        f"v{v}: cdc path outside _change_data/: {p}")
                cdc_v.append(f)
            elif "metaData" in a:
                n_meta += 1
                m = a["metaData"]
                self.meta_ids.add(m.get("id"))
                if m.get("format", {}).get("provider") != "parquet":
                    self.problems.append(f"v{v}: metaData.format.provider != parquet")
                try:
                    json.loads(m["schemaString"])
                except Exception:
                    self.problems.append(f"v{v}: metaData.schemaString not valid JSON")
                self.schema = m.get("schemaString")
                self.part_cols = list(m.get("partitionColumns") or [])
                self.config = norm_map(m.get("configuration"))
            elif "protocol" in a:
                pr = a["protocol"]
                r, w = pr.get("minReaderVersion"), pr.get("minWriterVersion")
                if not (isinstance(r, int) and isinstance(w, int) and r >= 1 and w >= 2):
                    self.problems.append(f"v{v}: implausible protocol {pr}")
                self.protocol = pr
            elif "txn" in a:
                t = a["txn"]
                app, ver = t.get("appId"), t.get("version")
                if app is None or not isinstance(ver, int):
                    self.problems.append(f"v{v}: malformed txn {t}")
                else:
                    self.txns[app] = max(ver, self.txns.get(app, ver))
            elif "domainMetadata" in a:
                has_domain = True
                d = a["domainMetadata"]
                if d.get("domain") is None:
                    self.problems.append(f"v{v}: domainMetadata without domain")
                elif d.get("removed"):
                    self.domains.pop(d["domain"], None)
                else:
                    self.domains[d["domain"]] = d.get("configuration", "")
            elif "commitInfo" in a:
                pass
            else:
                self.problems.append(f"v{v}: unknown action {list(a.keys())}")
        if n_meta > 1:
            self.problems.append(f"v{v}: {n_meta} metaData actions in one commit")
        # invariant 23: domainMetadata actions need the listed feature
        pr = self.protocol or {}
        if has_domain and (pr.get("minWriterVersion", 0) < 7 or
                           "domainMetadata" not in
                           (pr.get("writerFeatures") or [])):
            self.problems.append(
                f"v{v}: domainMetadata action but the protocol does not "
                "list the domainMetadata writer feature (writer 7)")
        if append_only_before and data_removes:
            self.problems.append(
                f"v{v}: data-changing remove(s) {sorted(data_removes)[:3]} "
                "committed while delta.appendOnly=true (the append-only "
                "gate was bypassed)")
        # order-independent: an add and a remove of the same path in one
        # version is invalid whichever action the writer emitted first —
        # EXCEPT the deletion-vector update shape (remove + re-add of the
        # same path where the add carries a deletionVector), which is how
        # DV DML commits per the protocol
        dv_readds = {p for p in adds_v
                     if (self.live.get(p) or {}).get("deletionVector")}
        for p in sorted((adds_v & removes_v) - dv_readds):
            self.problems.append(f"v{v}: {p} added and removed in one version")
        if cdc_v:
            self.cdc[v] = cdc_v
            self.net_rows[v] = (adds_n - removes_n) if stats_complete else None
            for f in cdc_v:
                if f.get("path") in adds_v:
                    self.problems.append(
                        f"v{v}: {f['path']} is both a cdc sidecar and a data add")


def parquet_columns(path):
    """Physical column names of one parquet data file. DuckDB's bare
    SELECT auto-detects hive partitioning and SYNTHESIZES col=value
    path columns — exactly what invariant 9 must see through — so the
    detection is explicitly disabled."""
    import duckdb
    con = duckdb.connect()
    try:
        return [d[0] for d in con.sql(
            f"DESCRIBE SELECT * FROM read_parquet('{path}', "
            "hive_partitioning=false)").fetchall()]
    finally:
        con.close()


def stats_problems(path, stats):
    """Invariant 24 for one data file: `n` equals the footer's row
    count, and each min.<c>/max.<c> bounds column c's non-null values.
    Returns a list of problem strings."""
    import calendar, datetime, decimal
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    out = []
    pf = pq.ParquetFile(path)
    if "n" in stats and int(stats["n"]) != pf.metadata.num_rows:
        out.append(f"stats n={stats['n']} but the footer holds "
                   f"{pf.metadata.num_rows} rows")
    cols = sorted({k.split(".", 1)[1] for k in stats
                   if k.startswith(("min.", "max."))})
    names = pf.schema_arrow.names
    for c in cols:
        if c not in names:
            out.append(f"stats for column {c} absent from the file")
            continue
        arr = pa.chunked_array(pf.read(columns=[c]).column(0).chunks)
        arr = pc.drop_null(arr)
        if len(arr) == 0:
            out.append(f"stats for column {c}, which holds only nulls")
            continue
        t = arr.type
        if pa.types.is_timestamp(t):
            # whole-second UTC renderings: min floors, max ceils
            us = pc.cast(pc.cast(arr, pa.timestamp("us", t.tz), safe=False),
                         pa.int64())
            lo, hi = pc.min(us).as_py(), pc.max(us).as_py()
            lo, hi = (lo // 10**6) * 10**6, -((-hi) // 10**6) * 10**6

            def parse(v):
                d = datetime.datetime.strptime(v, "%Y-%m-%d %H:%M:%S")
                return calendar.timegm(d.timetuple()) * 10**6
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            vals = [v.encode("utf-8") for v in arr.to_pylist()]
            lo, hi = min(vals), max(vals)

            def parse(v):
                return v.encode("utf-8")
        elif pa.types.is_date(t):
            lo, hi = pc.min(arr).as_py(), pc.max(arr).as_py()

            def parse(v):
                return datetime.date.fromisoformat(v)
        elif pa.types.is_decimal(t):
            lo, hi = pc.min(arr).as_py(), pc.max(arr).as_py()
            parse = decimal.Decimal
        elif pa.types.is_floating(t):
            # compare in the column's own width: a float32 bound logged
            # as Java renders it reparses to the same float32
            import numpy as np
            width = np.float32 if pa.types.is_float32(t) else np.float64
            vals = arr.to_numpy()
            vals = vals[~np.isnan(vals)]
            if len(vals) == 0:
                continue
            lo, hi = vals.min(), vals.max()

            def parse(v):
                return width(float(v))
        elif pa.types.is_integer(t):
            lo, hi = pc.min(arr).as_py(), pc.max(arr).as_py()
            parse = int
        else:
            out.append(f"stats for column {c} of unstatted type {t}")
            continue
        for side, actual, ok in (("min", lo, lambda a, b: a <= b),
                                 ("max", hi, lambda a, b: a >= b)):
            key = f"{side}.{c}"
            if key not in stats:
                continue
            try:
                logged = parse(stats[key])
            except Exception as e:
                out.append(f"{key}={stats[key]!r} unparseable: {e}")
                continue
            if not ok(logged, actual):
                out.append(f"{key}={stats[key]!r} does not bound the "
                           f"file's {side} {actual!r}")
    return out


def checkpoint_parquet_actions(path):
    """Decode the protocol-format parquet checkpoint into the same
    action-dict shape as the JSON lines (None columns dropped)."""
    import duckdb
    con = duckdb.connect()
    try:
        cols = [d[0] for d in con.sql(f"DESCRIBE SELECT * FROM '{path}'").fetchall()]
        rows = con.sql(f"SELECT * FROM '{path}'").fetchall()
    finally:
        con.close()
    out = []
    for row in rows:
        act = {c: v for c, v in zip(cols, row) if v is not None}
        if len(act) != 1:
            raise ValueError(f"checkpoint row carries {len(act)} actions: {sorted(act)}")
        out.append(act)
    return out


def validate(table):
    problems = []
    logdir = os.path.join(table, "_delta_log")
    if not os.path.isdir(logdir):
        return [f"{table}: no _delta_log directory"]
    names = sorted(os.listdir(logdir))
    vfiles, cps, mparts, v2ms = {}, {}, {}, {}
    for n in names:
        m = V_RE.match(n)
        if m:
            vfiles[int(m.group(1))] = os.path.join(logdir, n)
            continue
        m = V2_RE.match(n)
        if m:
            # newest uuid wins, matching the engine's tie-break
            v2ms.setdefault(int(m.group(1)), []).append(
                os.path.join(logdir, n))
            cps.setdefault(int(m.group(1)), set()).add("v2")
            continue
        m = CP_RE.match(n)
        if m:
            cps.setdefault(int(m.group(1)), set()).add(m.group(2))
            continue
        m = MP_RE.match(n)
        if m:
            mparts.setdefault(int(m.group(1)), {})[int(m.group(2))] = (
                os.path.join(logdir, n), int(m.group(3)))
            continue
        if n.endswith(".json") or n.endswith(".parquet"):
            problems.append(f"misnamed log entry: {n} (version files are %020d.json)")
    # multi-part classic checkpoints: a COMPLETE set (all parts 1..P
    # present, totals agreeing) is a checkpoint; an incomplete set is a
    # crash leftover the protocol says to IGNORE (not an error) — but
    # conflicting part totals for one version mean two writers
    # interleaved incompatibly, which is corruption
    for v, parts in sorted(mparts.items()):
        totals = {t for _, t in parts.values()}
        if len(totals) > 1:
            problems.append(
                f"multi-part checkpoint {v}: conflicting part totals {sorted(totals)}")
            continue
        total = next(iter(totals))
        if set(parts.keys()) == set(range(1, total + 1)):
            cps.setdefault(v, set()).add("multipart")
    versions = sorted(vfiles)
    if not versions and not cps:
        return [f"{table}: no committed versions and no checkpoints"]

    # -- contiguity after the newest checkpoint (or from 0 without one)
    base = max(cps) if cps else None
    walked = [v for v in versions if base is None or v > base]
    expected_start = (base + 1) if base is not None else (walked[0] if walked else 0)
    if walked != list(range(expected_start, expected_start + len(walked))):
        problems.append(f"torn log: versions {walked} not contiguous after "
                        f"{'checkpoint %d' % base if base is not None else 'start'}")
    if base is None and versions and versions[0] != 0:
        problems.append(f"earliest version {versions[0]} has no preceding checkpoint")

    # -- protocol action must open the table's history
    if 0 in vfiles:
        acts0 = load_actions(vfiles[0])
        if not any("protocol" in a for a in acts0):
            problems.append("version 0 carries no protocol action")

    # -- independent full replay (version files from 0), when retained
    full = None
    if versions and versions[0] == 0 and versions == list(range(len(versions))):
        full = Replay()
        for v in versions:
            full.apply_version(v, load_actions(vfiles[v]))
            # -- version checksums (invariant 20): each N.crc, when
            # present, must equal this independent replay of versions
            # 0..N — tableSizeBytes, numFiles, deleted-record count,
            # protocol. A replay alone cannot detect a torn/bit-rotted
            # log that still parses (a dropped add line is just a
            # smaller table); the writer's recorded summary can.
            crc_path = os.path.join(logdir, "%020d.crc" % v)
            if os.path.exists(crc_path):
                try:
                    crc = json.load(open(crc_path))
                except Exception as e:
                    problems.append(f"version checksum {v}: unreadable ({e})")
                    crc = None
                if crc is not None:
                    size = sum(int(f.get("size") or 0)
                               for f in full.live.values())
                    ndel = sum(int((f.get("deletionVector") or {})
                                   .get("cardinality") or 0)
                               for f in full.live.values())
                    if crc.get("numFiles") != len(full.live):
                        problems.append(
                            f"version checksum {v}: numFiles "
                            f"{crc.get('numFiles')} != replayed "
                            f"{len(full.live)}")
                    if crc.get("tableSizeBytes") != size:
                        problems.append(
                            f"version checksum {v}: tableSizeBytes "
                            f"{crc.get('tableSizeBytes')} != replayed {size}")
                    if ("numDeletedRecordsOpt" in crc
                            and crc["numDeletedRecordsOpt"] != ndel):
                        problems.append(
                            f"version checksum {v}: numDeletedRecordsOpt "
                            f"{crc['numDeletedRecordsOpt']} != replayed "
                            f"{ndel}")
                    cpr = crc.get("protocol") or {}
                    rpr = full.protocol or {}
                    for k in ("minReaderVersion", "minWriterVersion"):
                        if cpr.get(k) is not None and rpr.get(k) is not None \
                                and cpr[k] != rpr[k]:
                            problems.append(
                                f"version checksum {v}: protocol {k} "
                                f"{cpr[k]} != replayed {rpr[k]}")
        problems += full.problems
        if len(full.meta_ids) > 1:
            problems.append(f"metaData.id unstable across history: {sorted(full.meta_ids)}")
        if full.protocol is None:
            problems.append("no protocol action anywhere in the log")
        for p, f in sorted(full.live.items()):
            fp = os.path.join(table, p)
            if not os.path.isfile(fp):
                problems.append(f"live file missing on disk: {p}")
            elif "size" in f and os.path.getsize(fp) != f["size"]:
                problems.append(f"live file size mismatch for {p}: "
                                f"disk={os.path.getsize(fp)} log={f['size']}")
        has_constraints = any(k.startswith("delta.constraints.") for k in full.config)
        if has_constraints and (full.protocol or {}).get("minWriterVersion", 0) < 3:
            problems.append("CHECK constraints present but minWriterVersion < 3")
        # -- legacy features at the features gate (invariant 22): at
        # writer 7 the legacy ladder implies nothing, so CHECK
        # constraints and delta.appendOnly=true must be LISTED like any
        # feature (as invariant 13 requires of changeDataFeed) — a stock
        # writer enforces only the features the protocol lists
        pr = full.protocol or {}
        if pr.get("minWriterVersion", 0) >= 7:
            listed = set(pr.get("writerFeatures") or [])
            if has_constraints and "checkConstraints" not in listed:
                problems.append(
                    "CHECK constraints present at writer 7 but the protocol "
                    "does not list the checkConstraints writer feature")
            if (full.config.get("delta.appendOnly") == "true"
                    and "appendOnly" not in listed):
                problems.append(
                    "delta.appendOnly=true at writer 7 but the protocol does "
                    "not list the appendOnly writer feature")

        # -- deletion vectors (invariant 12): sidecars decode, reconcile
        # with descriptors, and the protocol gates them
        import struct as _struct
        any_dv = False
        for p, f in sorted(full.live.items()):
            d = f.get("deletionVector")
            if not d:
                continue
            any_dv = True
            dvp = d.get("pathOrInlineDv", "")
            if not dvp.startswith("_deletion_vectors/"):
                problems.append(f"dv of {p}: path outside _deletion_vectors/: {dvp}")
            fp = os.path.join(table, dvp)
            if not os.path.isfile(fp):
                problems.append(f"dv of {p}: sidecar missing on disk: {dvp}")
                continue
            if os.path.getsize(fp) != d.get("sizeInBytes"):
                problems.append(
                    f"dv of {p}: size mismatch disk={os.path.getsize(fp)} "
                    f"log={d.get('sizeInBytes')}")
            with open(fp, "rb") as fh:
                blob = fh.read()
            if len(blob) < 8 or _struct.unpack(">i", blob[:4])[0] != 0x47445631:
                problems.append(f"dv of {p}: bad GDV1 magic")
                continue
            n = _struct.unpack(">i", blob[4:8])[0]
            if len(blob) != 8 + 4 * n:
                problems.append(f"dv of {p}: truncated ({n} indexes, {len(blob)} bytes)")
                continue
            idx = list(_struct.unpack(f">{n}i", blob[8:]))
            if n != d.get("cardinality"):
                problems.append(
                    f"dv of {p}: cardinality {d.get('cardinality')} != decoded {n}")
            if any(b <= a for a, b in zip(idx, idx[1:])):
                problems.append(f"dv of {p}: indexes not strictly ascending")
            if idx and idx[0] < 0:
                problems.append(f"dv of {p}: negative row index {idx[0]}")
            try:
                rows = int(json.loads(f.get("stats", "{}")).get("n"))
            except Exception:
                rows = None
            if rows is not None and n >= max(rows, 1):
                problems.append(
                    f"dv of {p}: {n} dead rows >= file row count {rows} "
                    "(an all-dead file must be removed, not vectored)")
            if rows is not None and idx and idx[-1] >= rows:
                problems.append(
                    f"dv of {p}: max index {idx[-1]} >= file row count {rows}")
        if any_dv:
            pr = full.protocol or {}
            if pr.get("minReaderVersion", 0) < 3 or pr.get("minWriterVersion", 0) < 7:
                problems.append(
                    f"deletion vectors present but protocol {pr} below the "
                    "features gate (3,7)")
            elif "deletionVectors" not in (pr.get("readerFeatures") or []):
                problems.append(
                    "deletion vectors present but readerFeatures does not "
                    "list deletionVectors")
            elif "deletionVectors" not in (pr.get("writerFeatures") or []):
                problems.append(
                    "deletion vectors present but writerFeatures does not "
                    "list deletionVectors (a DV-unaware writer could "
                    "resurrect deleted rows by rewriting without the vector)")

        # -- change data feed (invariant 11): sidecars on disk, change
        # rows reconcile with the commit's file actions
        for v in sorted(full.cdc):
            paths = []
            for f in full.cdc[v]:
                fp = os.path.join(table, f["path"])
                if not os.path.isfile(fp):
                    problems.append(f"v{v}: cdc sidecar missing on disk: {f['path']}")
                    continue
                if "size" in f and os.path.getsize(fp) != f["size"]:
                    problems.append(
                        f"v{v}: cdc sidecar size mismatch for {f['path']}: "
                        f"disk={os.path.getsize(fp)} log={f['size']}")
                paths.append(fp)
            if not paths:
                continue
            import duckdb
            con = duckdb.connect()
            try:
                counts = dict(con.sql(
                    "SELECT _change_type, count(*) FROM read_parquet("
                    + "[" + ",".join("'%s'" % p for p in paths) + "], "
                    "hive_partitioning=false) GROUP BY 1").fetchall())
            except Exception as e:
                problems.append(f"v{v}: cdc sidecars unreadable: {e}")
                con.close()
                continue
            finally:
                try:
                    con.close()
                except Exception:
                    pass
            bad_types = set(counts) - {
                "insert", "delete", "update_preimage", "update_postimage"}
            if bad_types:
                problems.append(f"v{v}: unknown _change_type values: {sorted(bad_types)}")
            pre = counts.get("update_preimage", 0)
            post = counts.get("update_postimage", 0)
            if pre != post:
                problems.append(
                    f"v{v}: update_preimage rows ({pre}) != update_postimage rows ({post})")
            net = full.net_rows.get(v)
            cdc_net = counts.get("insert", 0) + post - pre - counts.get("delete", 0)
            if net is not None and cdc_net != net:
                problems.append(
                    f"v{v}: change rows don't reconcile with file actions: "
                    f"net data rows {net} != insert+post-pre-delete {cdc_net}")

        # -- protocol-feature completeness (invariant 13): a table that
        # writes change-data sidecars must LIST the changeDataFeed
        # writer feature — a feature-unaware writer appending without
        # sidecars would silently break every incremental consumer
        if full.cdc:
            pr = full.protocol or {}
            if (pr.get("minWriterVersion", 0) < 7
                    or "changeDataFeed" not in (pr.get("writerFeatures") or [])):
                problems.append(
                    "change-data sidecars present but the protocol does not "
                    "list the changeDataFeed writer feature at the features "
                    "gate (writer 7)")

        # -- generated columns (invariant 15): any schema field carrying
        # delta.generationExpression means the protocol must gate the
        # generatedColumns writer feature (legacy writer 4 also implies
        # it) — an unaware writer appending without maintaining the
        # expression silently breaks the invariant for every consumer.
        # When the expression is DuckDB-evaluable and the table is not
        # column-mapped, also spot-check the DATA: no live row may
        # diverge from its generation expression (partition values are
        # recovered via hive_partitioning).
        try:
            _gen_fields = json.loads(full.schema or "{}").get("fields", [])
        except Exception:
            _gen_fields = []
        gens = [(f["name"], (f.get("metadata") or {}).get(
            "delta.generationExpression"))
            for f in _gen_fields
            if (f.get("metadata") or {}).get("delta.generationExpression")]
        if gens:
            pr = full.protocol or {}
            w = pr.get("minWriterVersion", 0)
            feats = pr.get("writerFeatures") or []
            if not (w == 4 or (w >= 7 and "generatedColumns" in feats)):
                problems.append(
                    "generation expressions present but the protocol gates "
                    "neither legacy writer 4 nor the generatedColumns "
                    "feature (writer 7)")
            mapped_now = full.config.get("delta.columnMapping.mode") \
                not in (None, "none")
            if full.live and not mapped_now:
                files = [os.path.join(table, p) for p in sorted(full.live)]
                for g, e in gens:
                    try:
                        import duckdb as _dd
                        bad = _dd.sql(
                            "SELECT COUNT(*) FROM read_parquet(["
                            + ",".join("'" + f.replace("'", "''") + "'"
                                       for f in files)
                            + "], hive_partitioning=1, union_by_name=1) "
                            f"WHERE NOT (CAST(\"{g}\" AS VARCHAR) IS NOT "
                            f"DISTINCT FROM CAST(({e}) AS VARCHAR))"
                        ).fetchone()[0]
                        if bad:
                            problems.append(
                                f"generated column {g}: {bad} live rows "
                                f"diverge from its expression ({e})")
                    except Exception:
                        pass  # non-DuckDB-evaluable expression: gate-only

        # -- identity columns (invariant 16): identity metadata means
        # the protocol must gate the identityColumns writer feature
        # (legacy writer 6 also implies it); every live value must lie
        # on the start + k*step lattice and within the committed
        # high-water mark — a writer assigning past the mark (or off
        # the lattice) has broken the surrogate-key contract.
        idents = [(f["name"], (f.get("metadata") or {}))
                  for f in _gen_fields
                  if (f.get("metadata") or {}).get("delta.identity.start")
                  is not None]
        if idents:
            pr = full.protocol or {}
            w = pr.get("minWriterVersion", 0)
            feats = pr.get("writerFeatures") or []
            if not (w == 6 or (w >= 7 and "identityColumns" in feats)):
                problems.append(
                    "identity metadata present but the protocol gates "
                    "neither legacy writer 6 nor the identityColumns "
                    "feature (writer 7)")
            mapped_now = full.config.get("delta.columnMapping.mode") \
                not in (None, "none")
            if full.live and not mapped_now:
                files = [os.path.join(table, p) for p in sorted(full.live)]
                flist = ",".join("'" + f.replace("'", "''") + "'"
                                 for f in files)
                for g, md in idents:
                    start = md.get("delta.identity.start")
                    step = md.get("delta.identity.step", 1)
                    hwm = md.get("delta.identity.highWaterMark")
                    try:
                        import duckdb as _dd
                        reach = ("" if hwm is None else
                                 (f" OR \"{g}\" > {hwm}" if step > 0
                                  else f" OR \"{g}\" < {hwm}"))
                        bad = _dd.sql(
                            f"SELECT COUNT(*) FROM read_parquet([{flist}], "
                            "hive_partitioning=1, union_by_name=1) "
                            f"WHERE (\"{g}\" - {start}) % {step} != 0"
                            + reach).fetchone()[0]
                        if bad:
                            problems.append(
                                f"identity column {g}: {bad} live values "
                                f"off the lattice (start {start} step "
                                f"{step}) or beyond the high-water mark "
                                f"{hwm}")
                    except Exception:
                        pass  # unreadable: gate-only

        # -- type widening (invariant 17): any schema field carrying a
        # delta.typeChanges history means the protocol must list the
        # typeWidening feature in BOTH feature sets at the features
        # gate — an unaware reader scanning pre-widen files would fail
        # (or worse, misread) on the narrower physical encodings; and
        # every recorded change must be a WIDENING (a narrowing in the
        # history means a writer corrupted the contract: old files
        # physically hold values the committed type cannot represent).
        _widenings = {
            ("byte", "short"), ("byte", "integer"), ("byte", "long"),
            ("short", "integer"), ("short", "long"),
            ("integer", "long"), ("float", "double"),
            ("byte", "double"), ("short", "double"), ("integer", "double")}

        def _is_widening(frm, to):
            if (frm, to) in _widenings:
                return True
            import re as _re
            dec = _re.compile(r"decimal\((\d+),(\d+)\)")
            mf, mt = dec.match(frm or ""), dec.match(to or "")
            if mt and mf:
                pf, sf = int(mf.group(1)), int(mf.group(2))
                pt, st = int(mt.group(1)), int(mt.group(2))
                return st >= sf and pt - st >= pf - sf and (
                    pt > pf or st > sf)
            if mt and frm in ("byte", "short", "integer", "long"):
                need = {"byte": 3, "short": 5, "integer": 10, "long": 20}[frm]
                return int(mt.group(1)) - int(mt.group(2)) >= need
            return False

        widened = [(f["name"],
                    (f.get("metadata") or {}).get("delta.typeChanges"))
                   for f in _gen_fields
                   if (f.get("metadata") or {}).get("delta.typeChanges")]
        if widened:
            pr = full.protocol or {}
            if (pr.get("minReaderVersion", 0) < 3
                    or pr.get("minWriterVersion", 0) < 7
                    or "typeWidening" not in (pr.get("readerFeatures") or [])
                    or "typeWidening" not in (pr.get("writerFeatures") or [])):
                problems.append(
                    "delta.typeChanges history present but the protocol "
                    "does not list typeWidening in both feature sets at "
                    "the features gate (3,7)")
            for name, hist in widened:
                try:
                    changes = json.loads(hist)
                except Exception:
                    problems.append(
                        f"column {name}: unparseable delta.typeChanges "
                        f"history ({hist!r})")
                    continue
                for ch in changes:
                    if not _is_widening(ch.get("fromType"),
                                        ch.get("toType")):
                        problems.append(
                            f"column {name}: recorded type change "
                            f"{ch.get('fromType')} -> {ch.get('toType')} "
                            "is not a widening — old files hold values "
                            "the committed type cannot represent")

        # -- in-commit timestamps (invariant 18): the property means the
        # protocol lists the inCommitTimestamp writer feature, every
        # version at or after the recorded enablement version carries a
        # stamped commitInfo, and the stamps are STRICTLY monotone — a
        # flat or regressing stamp breaks timestampAsOf resolution for
        # every consumer.
        if full.config.get("delta.enableInCommitTimestamps") == "true":
            pr = full.protocol or {}
            if (pr.get("minWriterVersion", 0) < 7
                    or "inCommitTimestamp"
                    not in (pr.get("writerFeatures") or [])):
                problems.append(
                    "delta.enableInCommitTimestamps=true but the protocol "
                    "does not list the inCommitTimestamp writer feature "
                    "(writer 7)")
            try:
                enable_v = int(full.config.get(
                    "delta.inCommitTimestampEnablementVersion", "0"))
            except ValueError:
                enable_v = 0
            prev_ict = None
            for v in versions:
                if v < enable_v:
                    continue
                icts = [a["commitInfo"].get("inCommitTimestamp")
                        for a in load_actions(vfiles[v])
                        if "commitInfo" in a]
                ict = next((i for i in icts if i is not None), None)
                if ict is None:
                    problems.append(
                        f"v{v}: post-enablement commit lacks an "
                        "inCommitTimestamp")
                    prev_ict = None
                    continue
                if prev_ict is not None and ict <= prev_ict:
                    problems.append(
                        f"v{v}: inCommitTimestamp {ict} not greater than "
                        f"its predecessor's {prev_ict}")
                prev_ict = ict

        # -- row tracking (invariant 19): the property implies the
        # rowTracking + domainMetadata writer features at the gate;
        # the delta.rowTracking domain must hold the high-water mark;
        # every live add either carries a baseRowId whose range
        # [base, base+n) stays under the mark and overlaps no other
        # file's, or (a compacted rewrite) physically carries the
        # materialized __graft_row_id column — a file with neither has
        # unreadable row identity, and overlapping ranges mean two
        # rows share an id.
        if full.config.get("delta.enableRowTracking") == "true":
            pr = full.protocol or {}
            feats = pr.get("writerFeatures") or []
            if (pr.get("minWriterVersion", 0) < 7
                    or "rowTracking" not in feats
                    or "domainMetadata" not in feats):
                problems.append(
                    "delta.enableRowTracking=true but the protocol does "
                    "not list rowTracking + domainMetadata (writer 7)")
            hwm = None
            try:
                hwm = json.loads(full.domains.get("delta.rowTracking", "") or
                                 "{}").get("rowIdHighWaterMark")
            except Exception:
                pass
            if hwm is None:
                problems.append(
                    "row tracking enabled but no rowIdHighWaterMark in "
                    "the delta.rowTracking domain")
            ranges = []
            for p, f in sorted(full.live.items()):
                b = f.get("baseRowId")
                if b is None:
                    try:
                        import duckdb as _dd
                        cols = [d[0] for d in _dd.sql(
                            "DESCRIBE SELECT * FROM '"
                            + os.path.join(table, p).replace("'", "''")
                            + "'").fetchall()]
                        if "__graft_row_id" not in cols:
                            problems.append(
                                f"row tracking: live file {p} has neither "
                                "a baseRowId nor the materialized "
                                "__graft_row_id column")
                    except Exception:
                        pass  # unreadable: other invariants flag it
                    continue
                try:
                    n = int(json.loads(f["stats"])["n"])
                except Exception:
                    problems.append(
                        f"row tracking: file {p} has a baseRowId but no "
                        "row-count stat to size its range")
                    continue
                if hwm is not None and b + n - 1 > hwm:
                    problems.append(
                        f"row tracking: file {p} range [{b},{b + n - 1}] "
                        f"exceeds the high-water mark {hwm}")
                ranges.append((b, b + n - 1, p))
            ranges.sort()
            for (a1, z1, p1), (a2, z2, p2) in zip(ranges, ranges[1:]):
                if a2 <= z1:
                    problems.append(
                        f"row tracking: id ranges of {p1} [{a1},{z1}] and "
                        f"{p2} [{a2},{z2}] overlap")

        # -- column mapping (invariant 10): when
        # delta.columnMapping.mode = name, every schema field carries a
        # unique numeric id and a physicalName, maxColumnId bounds the
        # ids, the protocol sits at the mapping gate (reader 2 /
        # writer 5), and data files store PHYSICAL names — a file
        # holding a diverged LOGICAL name would mean a writer skipped
        # the rename step and readers would silently miss its bytes.
        try:
            schema_json_fields = json.loads(full.schema or "{}").get("fields", [])
        except Exception:
            schema_json_fields = []
        mapping_mode = full.config.get("delta.columnMapping.mode")
        mapping_on = mapping_mode not in (None, "none")

        def phys_of(f):
            md = f.get("metadata") or {}
            return md.get("delta.columnMapping.physicalName", f["name"])

        if mapping_on:
            if mapping_mode != "name":
                problems.append(f"unsupported columnMapping.mode: {mapping_mode}")
            ids = []
            for f in schema_json_fields:
                md = f.get("metadata") or {}
                if ("delta.columnMapping.id" not in md or
                        "delta.columnMapping.physicalName" not in md):
                    problems.append("column mapping on but field "
                                    f"{f.get('name')} lacks id/physicalName")
                else:
                    ids.append(md["delta.columnMapping.id"])
            if len(set(ids)) != len(ids):
                problems.append(f"column mapping field ids not unique: {sorted(ids)}")
            try:
                maxid = int(full.config.get("delta.columnMapping.maxColumnId", "0"))
            except ValueError:
                maxid = 0
                problems.append("delta.columnMapping.maxColumnId not an integer")
            if ids and maxid < max(ids):
                problems.append(f"maxColumnId {maxid} < max field id {max(ids)}")
            pr = full.protocol or {}
            if pr.get("minReaderVersion", 0) < 2 or pr.get("minWriterVersion", 0) < 5:
                problems.append("column mapping present but protocol below "
                                "(minReader 2, minWriter 5)")
            phys_set = {phys_of(f) for f in schema_json_fields}
            diverged_logicals = {f["name"] for f in schema_json_fields
                                 if phys_of(f) != f["name"]} - phys_set
            if diverged_logicals:
                for p in sorted(full.live):
                    fp = os.path.join(table, p)
                    if not os.path.isfile(fp):
                        continue
                    try:
                        dcols = parquet_columns(fp)
                    except Exception:
                        continue
                    bad = sorted(set(dcols) & diverged_logicals)
                    if bad:
                        problems.append(f"data file {p} stores LOGICAL "
                                        f"column name(s) {bad}; mapped "
                                        "writers must stage physical names")

        # -- partitioned layout (invariant 9); under column mapping the
        # files' real columns are the PHYSICAL names
        import urllib.parse
        pcols = list(full.part_cols)
        schema_fields = ([phys_of(f) for f in schema_json_fields]
                         if mapping_on else
                         [f.get("name") for f in schema_json_fields])
        for p, f in sorted(full.live.items()):
            pv = norm_map(f.get("partitionValues"))
            if sorted(pv) != sorted(pcols):
                problems.append(f"partitionValues keys {sorted(pv)} != "
                                f"partitionColumns {sorted(pcols)} for {p}")
                continue
            # the hive layout IS the lookup structure partition pruning
            # relies on: each claimed value must appear as a col=value
            # directory segment of the file's own path
            segs = [urllib.parse.unquote(s) for s in p.split("/")[:-1]]
            for c in pcols:
                v = pv[c]
                want = "%s=%s" % (c, "__HIVE_DEFAULT_PARTITION__"
                                  if v is None else v)
                if want not in segs:
                    problems.append(f"path {p} lacks directory segment "
                                    f"'{want}' claimed by its partitionValues")
            fp = os.path.join(table, p)
            if pcols and os.path.isfile(fp):
                try:
                    dcols = parquet_columns(fp)
                except Exception as e:
                    problems.append(f"data file undecodable: {p}: {e}")
                    continue
                for c in pcols:
                    if c in dcols:
                        problems.append(f"partition column {c} materialized "
                                        f"inside data file {p}")
                # under column mapping, DROP is metadata-only: a file may
                # legally carry a dropped column's physical bytes, so the
                # outside-the-schema check applies only to unmapped tables;
                # a row-tracked rewrite carries the materialized row-id
                # columns invariant 19 reads
                tracked = (full.config.get("delta.enableRowTracking")
                           == "true")
                extra = [c for c in dcols if schema_fields and
                         c not in schema_fields and not mapping_on and
                         not (tracked and c in ("__graft_row_id",
                                                "__graft_row_commit"))]
                if extra:
                    problems.append(f"data file {p} carries columns {extra} "
                                    "outside the logged schema")

        # -- file stats (invariant 24): row counts and min/max bounds
        # checked against the data itself, independently of the writer
        for p, f in sorted(full.live.items()):
            fp = os.path.join(table, p)
            if not os.path.isfile(fp) or not f.get("stats"):
                continue
            try:
                st = json.loads(f["stats"])
            except Exception:
                continue  # invariant 4 flags it
            if "n" not in st:
                continue
            try:
                problems += [f"stats of {p}: {m}"
                             for m in stats_problems(fp, st)]
            except Exception as e:
                problems.append(f"stats of {p}: data file undecodable: {e}")

    # -- checkpoints: cross-format agreement + replay equality
    for c, formats in sorted(cps.items()):
        sides = {}
        if "json" in formats:
            sides["json"] = load_actions(
                os.path.join(logdir, "%020d.checkpoint.json" % c))
        if "parquet" in formats:
            try:
                sides["parquet"] = checkpoint_parquet_actions(
                    os.path.join(logdir, "%020d.checkpoint.parquet" % c))
            except Exception as e:
                problems.append(f"checkpoint {c}: parquet undecodable: {e}")
        if "multipart" in formats:
            try:
                acts = []
                for k in sorted(mparts[c]):
                    acts += checkpoint_parquet_actions(mparts[c][k][0])
                sides["multipart"] = acts
            except Exception as e:
                problems.append(f"checkpoint {c}: multi-part undecodable: {e}")
        if "v2" in formats:
            # -- invariant 21: v2 checkpoint shape — exactly one
            # checkpointMetadata carrying THIS version, every sidecar
            # reference existing under _sidecars/ with the logged size,
            # and the manifest ∪ sidecar actions passing the same
            # cross-format / replay-equality checks as any checkpoint.
            try:
                mpath = sorted(v2ms[c])[-1]
                macts = load_actions(mpath)
                cms = [a["checkpointMetadata"] for a in macts
                       if "checkpointMetadata" in a]
                if len(cms) != 1 or cms[0].get("version") != c:
                    problems.append(
                        f"v2 checkpoint {c}: expected exactly one "
                        f"checkpointMetadata with version={c}, got {cms}")
                acts = [a for a in macts
                        if "sidecar" not in a
                        and "checkpointMetadata" not in a]
                for a in macts:
                    sc = a.get("sidecar")
                    if not sc:
                        continue
                    sp = os.path.join(logdir, "_sidecars", sc["path"])
                    if not os.path.isfile(sp):
                        problems.append(
                            f"v2 checkpoint {c}: sidecar {sc['path']} missing")
                        continue
                    logged = sc.get("sizeInBytes")
                    if logged is not None and os.path.getsize(sp) != logged:
                        problems.append(
                            f"v2 checkpoint {c}: sidecar {sc['path']} size "
                            f"{os.path.getsize(sp)} != logged {logged}")
                    acts += [a2 for a2 in checkpoint_parquet_actions(sp)
                             if a2]
                sides["v2"] = acts
            except Exception as e:
                problems.append(f"v2 checkpoint {c}: undecodable: {e}")
        states = {}
        for fmt, acts in sides.items():
            r = Replay()
            r.apply_version(f"cp{c}:{fmt}", acts)
            problems += r.problems
            states[fmt] = r
            if r.protocol is None:
                problems.append(f"checkpoint {c} ({fmt}): no protocol action")
            if r.schema is None:
                problems.append(f"checkpoint {c} ({fmt}): no metaData action")
        for fmt in ("parquet", "multipart", "v2"):
            for a in sides.get(fmt, []):
                if "add" in a and a["add"].get("dataChange"):
                    problems.append(f"checkpoint {c} ({fmt}): add with "
                                    f"dataChange=true ({a['add'].get('path')})")
        def fingerprint(r):
            return (tuple(sorted((p, f.get("size")) for p, f in r.live.items())),
                    r.schema, tuple(r.part_cols), tuple(sorted(r.config.items())),
                    (r.protocol or {}).get("minReaderVersion"),
                    (r.protocol or {}).get("minWriterVersion"),
                    tuple(sorted(r.txns.items())),
                    tuple(sorted(r.domains.items())))
        if len(states) >= 2:
            fps = {fmt: fingerprint(r) for fmt, r in states.items()}
            ref = sorted(fps)[0]
            for fmt in sorted(fps):
                if fps[fmt] != fps[ref]:
                    problems.append(f"checkpoint {c}: {ref} and {fmt} forms "
                                    f"disagree:\n  {ref}: {fps[ref]}"
                                    f"\n  {fmt}: {fps[fmt]}")
        # completeness: the checkpoint must equal an independent replay
        # of versions 0..c whenever that prefix survives on disk
        if full is not None and c in versions and states:
            upto = Replay()
            for v in range(0, c + 1):
                upto.apply_version(v, load_actions(vfiles[v]))
            any_state = next(iter(states.values()))
            if fingerprint(upto) != fingerprint(any_state):
                problems.append(f"checkpoint {c} incomplete vs replay of 0..{c}:"
                                f"\n  replay:     {fingerprint(upto)}"
                                f"\n  checkpoint: {fingerprint(any_state)}")

    # -- invariant 21 (gate): a v2 checkpoint on disk or the v2 policy
    # in the configuration means the protocol must list v2Checkpoint in
    # BOTH feature sets at the features gate — a reader that cannot
    # follow sidecar references would replay half a snapshot
    if full is not None and (
            v2ms or full.config.get("delta.checkpointPolicy") == "v2"):
        pr = full.protocol or {}
        if (pr.get("minReaderVersion", 0) < 3
                or "v2Checkpoint" not in (pr.get("readerFeatures") or [])
                or "v2Checkpoint" not in (pr.get("writerFeatures") or [])):
            problems.append(
                "v2 checkpoint present (or delta.checkpointPolicy=v2) but "
                "the protocol does not list v2Checkpoint in both feature "
                "sets at the features gate (3,7)")

    # -- _last_checkpoint hint must point at a real checkpoint
    hint = os.path.join(logdir, "_last_checkpoint")
    if os.path.isfile(hint):
        try:
            h = json.load(open(hint))
            hv = h.get("version")
            if hv not in cps:
                problems.append(f"_last_checkpoint points at missing checkpoint {hv}")
            hp = h.get("parts")
            if hp is not None:
                have = mparts.get(hv, {})
                if sorted(have.keys()) != list(range(1, hp + 1)):
                    problems.append(
                        f"_last_checkpoint declares {hp} parts for {hv} but "
                        f"parts {sorted(have.keys())} exist")
        except Exception as e:
            problems.append(f"_last_checkpoint unreadable: {e}")

    return problems


def main(tables):
    bad = 0
    for t in tables:
        problems = validate(t)
        if problems:
            bad += 1
            print(f"[FAIL] {t}")
            for p in problems:
                print(f"  - {p}")
        else:
            print(f"[OK] {t}")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1:]))
