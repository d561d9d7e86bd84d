#!/usr/bin/env python3
"""Independent external reader for the exported _delta_log.

Replays a graft-exported delta log with ZERO graft code on the read
path — checkpoint parquet via DuckDB, json tail via the stdlib — then:

  1. resolves the live file set and reads it through DuckDB's parquet
     scanner, hash-comparing rows against an expected parquet dump
     (null-filling columns files predate, per the metaData schema);
  2. verifies every add action's stats: numRecords exactly matches the
     file, and every minValues/maxValues bound actually bounds the
     file's data (a wrong exported bound would make a real external
     engine skip files it needed — silent data loss);
  3. verifies txn watermarks survive checkpoint+tail replay;
  4. verifies every checkpoint's metaData equals the newest json
     metaData at or below its version, while that entry still exists
     (a checkpoint-only reader must see the table the json log
     describes).

Usage: check_delta_export.py <tablePath> <expectedParquetDir>
Exit 0 on full match; prints one result line per check.
"""
import json
import os
import re
import sys

import duckdb

SINGLE_PART = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
MULTI_PART = re.compile(r"^(\d{20})\.checkpoint\.(\d+)\.(\d+)\.parquet$")
V2_MANIFEST = re.compile(
    r"^(\d{20})\.checkpoint\."
    r"([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})"
    r"\.parquet$")


def v2_parts(logdir, manifest):
    """[manifest, sidecar...] for a V2 uuid checkpoint, or None if any
    sidecar the manifest names is missing (torn publish — the writer
    renames sidecars before the manifest, so a complete manifest
    normally implies complete sidecars; trust nothing anyway)."""
    con = duckdb.connect()
    try:
        cols = {r[0] for r in con.sql(
            f"SELECT name FROM parquet_schema('{manifest}')").fetchall()}
        if "sidecar" not in cols:
            return [manifest]  # no file actions live outside it
        parts = [manifest]
        for (sp,) in con.sql(
            f"SELECT sidecar.path FROM parquet_scan('{manifest}') "
            "WHERE sidecar.path IS NOT NULL"
        ).fetchall():
            p = sp if (os.path.isabs(sp) or "://" in sp) else \
                os.path.join(logdir, "_sidecars", sp)
            if not os.path.exists(p):
                return None
            parts.append(p)
        return parts
    finally:
        con.close()


def complete_checkpoints(logdir):
    """version -> sorted part paths, for every COMPLETE checkpoint
    (single-file, multi-part with all M parts present, or a V2 uuid
    manifest whose sidecars all exist). A crashed exporter may leave
    partial part sets or a stale/absent `_last_checkpoint`; like
    delta-spark, treat the pointer as a hint and never follow it into
    an incomplete checkpoint."""
    singles, multis, v2s = {}, {}, {}
    for f in os.listdir(logdir):
        m = SINGLE_PART.match(f)
        if m:
            singles[int(m.group(1))] = [os.path.join(logdir, f)]
            continue
        m = MULTI_PART.match(f)
        if m:
            v, k, tot = int(m.group(1)), int(m.group(2)), int(m.group(3))
            multis.setdefault((v, tot), {})[k] = os.path.join(logdir, f)
            continue
        m = V2_MANIFEST.match(f)
        if m:
            parts = v2_parts(logdir, os.path.join(logdir, f))
            if parts is not None:
                v2s[int(m.group(1))] = parts
    out = {}
    for (v, tot), parts in multis.items():
        if set(parts) == set(range(1, tot + 1)):
            out[v] = [parts[k] for k in sorted(parts)]
    out.update(v2s)      # v2 preferred over multi-part at one version
    out.update(singles)  # single-file preferred when both exist
    return out


# ---- deletion vectors: z85 + RoaringBitmapArray portable decode ----
# (public specs only: Delta PROTOCOL.md "Deletion Vectors" and the
# RoaringFormatSpec portable container layout — mirrors the engine's
# own decoder so this stays an INDEPENDENT read path)

Z85 = ("0123456789abcdefghijklmnopqrstuvwxyz"
       "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#")
Z85_INV = {c: i for i, c in enumerate(Z85)}


def z85_decode(s):
    assert len(s) % 5 == 0, f"z85 length {len(s)}"
    out = bytearray()
    for i in range(0, len(s), 5):
        acc = 0
        for c in s[i:i + 5]:
            acc = acc * 85 + Z85_INV[c]
        out += acc.to_bytes(4, "big")
    return bytes(out)


def _decode_roaring32(buf, off, emit_base, out):
    import struct as st
    cookie = st.unpack_from("<i", buf, off)[0]
    off += 4
    has_run = (cookie & 0xFFFF) == 12347
    if has_run:
        size = (cookie >> 16) + 1
        nbytes = (size + 7) // 8
        run_bits = buf[off:off + nbytes]
        off += nbytes
    else:
        assert cookie == 12346, f"bad roaring cookie {cookie}"
        size = st.unpack_from("<i", buf, off)[0]
        off += 4
        run_bits = b""
    keys, cards = [], []
    for i in range(size):
        k, c = st.unpack_from("<HH", buf, off)
        keys.append(k)
        cards.append(c + 1)
        off += 4
    if not has_run or size >= 4:
        off += 4 * size  # offset table — sequential read ignores it
    for i in range(size):
        base = emit_base | (keys[i] << 16)
        is_run = has_run and (run_bits[i // 8] >> (i % 8)) & 1
        if is_run:
            (n_runs,) = st.unpack_from("<H", buf, off)
            off += 2
            for _ in range(n_runs):
                start, length = st.unpack_from("<HH", buf, off)
                off += 4
                out.extend(base | v for v in range(start, start + length + 1))
        elif cards[i] <= 4096:
            for _ in range(cards[i]):
                (v,) = st.unpack_from("<H", buf, off)
                off += 2
                out.append(base | v)
        else:
            for w in range(1024):
                (word,) = st.unpack_from("<Q", buf, off)
                off += 8
                if word:
                    out.extend(base | (w * 64 + b)
                               for b in range(64) if (word >> b) & 1)
    return off


def dv_positions(table, dv):
    """Dead row positions of one add action's deletionVector."""
    import struct as st
    import uuid as uuidlib
    import zlib
    if dv["storageType"] == "i":
        blob = z85_decode(dv["pathOrInlineDv"])
    elif dv["storageType"] in ("u", "p"):
        if dv["storageType"] == "u":
            s = dv["pathOrInlineDv"]
            prefix, enc = s[:-20], s[-20:]
            u = uuidlib.UUID(bytes=z85_decode(enc))
            p = os.path.join(table, prefix, f"deletion_vector_{u}.bin")
        else:
            p = dv["pathOrInlineDv"]
        with open(p, "rb") as fh:
            data = fh.read()
        assert data[0] == 1, f"{p}: DV file version {data[0]}"
        off = dv.get("offset", 1)
        (size,) = st.unpack_from(">i", data, off)
        blob = data[off + 4:off + 4 + size]
        (crc,) = st.unpack_from(">i", data, off + 4 + size)
        assert zlib.crc32(blob) & 0xFFFFFFFF == crc & 0xFFFFFFFF, \
            f"{p}: DV checksum mismatch"
    else:
        raise AssertionError(f"storageType {dv['storageType']}")
    magic, n = st.unpack_from("<iq", blob, 0)
    assert magic == 1681511377, f"bad RoaringBitmapArray magic {magic}"
    out, off = [], 12
    for hi in range(n):
        off = _decode_roaring32(blob, off, hi << 32, out)
    return out


def replay(table):
    logdir = os.path.join(table, "_delta_log")
    entries = sorted(
        int(f[: -len(".json")])
        for f in os.listdir(logdir)
        if f.endswith(".json") and not f.startswith(".")
    )
    live, sizes, dvs, txns, schema = {}, {}, {}, {}, None
    domains, features = {}, set()
    complete = complete_checkpoints(logdir)
    pointed = -1
    lc = os.path.join(logdir, "_last_checkpoint")
    if os.path.exists(lc):
        with open(lc) as fh:
            pointed = json.load(fh).get("version", -1)
    if pointed in complete:
        ckpt_v = pointed
    elif complete:
        ckpt_v = max(complete)
    else:
        ckpt_v = -1
    if ckpt_v >= 0:
        parts = ", ".join(f"'{p}'" for p in complete[ckpt_v])
        # union_by_name: a V2 checkpoint's manifest (protocol/metaData/
        # txn/sidecar rows) and its sidecars (add rows only) carry
        # different column sets; classic layouts are homogeneous and
        # unaffected
        ck = f"[{parts}], union_by_name=true"
        con = duckdb.connect()
        has_dv = con.sql(
            f"SELECT count(*) FROM (DESCRIBE SELECT add.* FROM "
            f"parquet_scan({ck}) LIMIT 0) WHERE column_name = "
            "'deletionVector'"
        ).fetchone()[0] > 0
        dv_sel = (", to_json(add.deletionVector)" if has_dv
                  else ", NULL")
        for (p, stats, size, dv_s) in con.sql(
            f"SELECT add.path, add.stats, add.size{dv_sel} "
            f"FROM parquet_scan({ck}) "
            "WHERE add.path IS NOT NULL"
        ).fetchall():
            live[p] = stats
            sizes[p] = size
            d = json.loads(dv_s) if dv_s else None
            if d and d.get("storageType"):
                dvs[p] = d
            else:
                dvs.pop(p, None)
        for (app, v) in con.sql(
            f"SELECT txn.appId, txn.version FROM parquet_scan({ck}) "
            "WHERE txn.appId IS NOT NULL"
        ).fetchall():
            txns[app] = v
        for (s,) in con.sql(
            f"SELECT metaData.schemaString FROM parquet_scan({ck}) "
            "WHERE metaData.id IS NOT NULL"
        ).fetchall():
            schema = json.loads(s)
        # writer features (the checkpoint restates the protocol) and
        # domain metadata (PROTOCOL.md: checkpoints carry the latest
        # per-domain state — a checkpoint-only reader must not lose the
        # clustering declaration or the row-tracking high-water mark).
        # No silent fallbacks here: a checkpoint with no readable
        # protocol action is ITSELF a violation — swallowing the error
        # would let the exact regression this check exists for (a
        # checkpoint that dropped the protocol/clustering state) pass
        # as a clean report.
        cols_in_ck = {r[0] for r in con.sql(
            f"DESCRIBE SELECT * FROM parquet_scan({ck}) LIMIT 0"
        ).fetchall()}
        assert "protocol" in cols_in_ck, (
            "checkpoint has no protocol column — PROTOCOL.md requires "
            "the checkpoint to restate the protocol action")
        has_wf = con.sql(
            f"SELECT count(*) FROM (DESCRIBE SELECT protocol.* FROM "
            f"parquet_scan({ck}) LIMIT 0) "
            "WHERE column_name = 'writerFeatures'"
        ).fetchone()[0] > 0
        wf_sel = ("protocol.writerFeatures" if has_wf else "NULL")
        proto_rows = 0
        for (wf,) in con.sql(
            f"SELECT {wf_sel} FROM parquet_scan({ck}) "
            "WHERE protocol.minWriterVersion IS NOT NULL"
        ).fetchall():
            proto_rows += 1
            features.update(wf or [])
        assert proto_rows > 0, (
            "checkpoint restates no protocol action — a "
            "checkpoint-only reader would have no read contract")
        has_dom = con.sql(
            f"SELECT count(*) FROM (DESCRIBE SELECT * FROM "
            f"parquet_scan({ck}) LIMIT 0) "
            "WHERE column_name = 'domainMetadata'"
        ).fetchone()[0] > 0
        if has_dom:
            for (d, cfg, rem) in con.sql(
                f"SELECT domainMetadata.domain, "
                f"domainMetadata.configuration, domainMetadata.removed "
                f"FROM parquet_scan({ck}) "
                "WHERE domainMetadata.domain IS NOT NULL"
            ).fetchall():
                domains[d] = (cfg, bool(rem))
        con.close()
    for v in entries:
        if v <= ckpt_v:
            continue
        with open(os.path.join(logdir, "%020d.json" % v)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                n = json.loads(line)
                if "metaData" in n:
                    schema = json.loads(n["metaData"]["schemaString"])
                if "add" in n:
                    live[n["add"]["path"]] = n["add"].get("stats")
                    sizes[n["add"]["path"]] = n["add"].get("size")
                    if n["add"].get("deletionVector"):
                        dvs[n["add"]["path"]] = n["add"]["deletionVector"]
                    else:
                        dvs.pop(n["add"]["path"], None)
                if "remove" in n:
                    live.pop(n["remove"]["path"], None)
                    sizes.pop(n["remove"]["path"], None)
                    dvs.pop(n["remove"]["path"], None)
                if "txn" in n:
                    txns[n["txn"]["appId"]] = n["txn"]["version"]
                if "protocol" in n:
                    features.update(
                        n["protocol"].get("writerFeatures") or [])
                if "domainMetadata" in n:
                    d = n["domainMetadata"]
                    domains[d["domain"]] = (
                        d.get("configuration"), bool(d.get("removed")))
    return live, sizes, dvs, txns, schema, ckpt_v, domains, features


def check_crc(table, sizes, dvs):
    """Validate the newest version checksum (<v>.crc, delta-spark's
    VersionChecksum) against the independently replayed state. Only the
    crc matching the latest json entry is decidable here (older crcs
    describe older snapshots)."""
    logdir = os.path.join(table, "_delta_log")
    names = os.listdir(logdir)
    crcs = [int(f[: -len(".crc")]) for f in names
            if f.endswith(".crc") and not f.startswith(".")]
    if not crcs:
        return "crc: none present (older export)"
    latest = max(int(f[: -len(".json")]) for f in names
                 if f.endswith(".json") and not f.startswith("."))
    v = max(crcs)
    if v != latest:
        return f"crc: newest is v{v} != latest entry v{latest} (skipped)"
    with open(os.path.join(logdir, "%020d.crc" % v)) as fh:
        c = json.load(fh)
    assert c["numFiles"] == len(sizes), (
        f"crc v{v}: numFiles={c['numFiles']} but replay has "
        f"{len(sizes)} live files")
    total = sum(sizes.values())
    assert c["tableSizeBytes"] == total, (
        f"crc v{v}: tableSizeBytes={c['tableSizeBytes']} but replayed "
        f"adds sum to {total}")
    if "numDeletionVectorsOpt" in c:
        assert c["numDeletionVectorsOpt"] == len(dvs), (
            f"crc v{v}: numDeletionVectorsOpt={c['numDeletionVectorsOpt']}"
            f" but replay has {len(dvs)}")
        dead = sum(d["cardinality"] for d in dvs.values())
        assert c["numDeletedRecordsOpt"] == dead, (
            f"crc v{v}: numDeletedRecordsOpt={c['numDeletedRecordsOpt']}"
            f" but DV cardinalities sum to {dead}")
    return (f"crc v{v}: numFiles={c['numFiles']} "
            f"tableSizeBytes={c['tableSizeBytes']} verified OK")


SQLTYPE = {
    "long": "BIGINT", "integer": "INTEGER", "short": "SMALLINT",
    "byte": "TINYINT", "double": "DOUBLE", "float": "FLOAT",
    "string": "VARCHAR", "boolean": "BOOLEAN", "date": "DATE",
    "timestamp_ntz": "TIMESTAMP",
}


def proj_for(con, fpath, cols, types, phys):
    """SELECT list projecting a parquet file to the LOGICAL schema:
    physical name when the file has it (column-mapped data/cdc files),
    bare logical name otherwise (unmapped tables, pre-mapping files),
    NULL-fill when the file predates the column entirely."""
    have = {r[0] for r in con.sql(
        f"SELECT name FROM parquet_schema('{fpath}')").fetchall()}
    for c in cols:
        # a renamed mapped column (physical != logical) must appear
        # under its PHYSICAL name in every data/cdc file: pre-mapping
        # files carry physical-at-enablement (= logical then), mapped
        # writers always write physical. A file holding the CURRENT
        # logical name instead is a spec violation (e.g. a change file
        # written under post-rename logical names) — fail loudly
        # instead of silently projecting it.
        if phys[c] != c and phys[c] not in have and c in have:
            raise AssertionError(
                f"{fpath}: column-mapped file stores LOGICAL name "
                f"'{c}' instead of physical '{phys[c]}'")
    return ", ".join(
        f'"{phys[c]}" AS "{c}"' if phys[c] in have
        else (f'"{c}"' if c in have
              else f'CAST(NULL AS {SQLTYPE[types[c]]}) AS "{c}"')
        for c in cols)


def phys_map(schema):
    """logical -> physical column name (column mapping, PROTOCOL.md):
    data files of a name-mapped table store columns under
    delta.columnMapping.physicalName; unmapped fields keep their
    logical name. Stats keys follow the data files (physical)."""
    return {
        f["name"]: (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"])
        for f in schema["fields"]
    }


def main():
    table, expected = sys.argv[1], sys.argv[2]
    live, sizes, dvs, txns, schema, ckpt_v, domains, features = \
        replay(table)
    cols = [f["name"] for f in schema["fields"]]
    types = {f["name"]: f["type"] for f in schema["fields"]}
    phys = phys_map(schema)
    types_by_phys = {phys[c]: types[c] for c in cols}
    con = duckdb.connect()
    ok = True

    # deletion vectors: decode each live file's dead-position set and
    # filter by parquet row number — the read-side contract a real DV
    # consumer implements
    con.sql("CREATE TABLE dv_dead (rel VARCHAR, pos BIGINT)")
    n_dv = 0
    for rel, dv in dvs.items():
        pos = dv_positions(table, dv)
        assert len(pos) == dv["cardinality"], (
            f"{rel}: decoded {len(pos)} DV positions, descriptor "
            f"promised {dv['cardinality']}")
        con.executemany("INSERT INTO dv_dead VALUES (?, ?)",
                        [(rel, p) for p in pos])
        n_dv += 1
    if n_dv:
        print(f"dv: {n_dv} deletion vectors decoded "
              f"({con.sql('SELECT count(*) FROM dv_dead').fetchone()[0]}"
              " dead rows)")

    # 1. snapshot content: union of live files (null-filling columns a
    #    file predates, dropping DV-dead positions) must hash-match the
    #    expected dump
    selects = []
    for rel in sorted(live):
        f = os.path.join(table, rel)
        proj = proj_for(con, f, cols, types, phys)
        if rel in dvs:
            selects.append(
                f"SELECT {proj} FROM parquet_scan('{f}', "
                "file_row_number=true) WHERE file_row_number NOT IN "
                f"(SELECT pos FROM dv_dead WHERE rel = '{rel}')")
        else:
            selects.append(f"SELECT {proj} FROM parquet_scan('{f}')")
    body = " UNION ALL ".join(selects)
    order = ", ".join(f'"{c}"' for c in cols)
    h1 = con.sql(
        "SELECT count(*), md5(string_agg(r, '|' ORDER BY r)) FROM ("
        f"SELECT concat_ws(',', {order}) AS r FROM ({body}))"
    ).fetchone()
    h2 = con.sql(
        "SELECT count(*), md5(string_agg(r, '|' ORDER BY r)) FROM ("
        f"SELECT concat_ws(',', {order}) AS r "
        f"FROM parquet_scan('{expected}/*.parquet'))"
    ).fetchone()
    print(f"snapshot: delta={h1} expected={h2}", end=" ")
    print("MATCH" if h1 == h2 else "MISMATCH")
    ok &= h1 == h2

    # 2. per-file stats: numRecords exact; every emitted bound bounds
    nfiles = nbounds = 0
    for rel, stats_s in live.items():
        if not stats_s:
            continue
        st = json.loads(stats_s)
        f = os.path.join(table, rel)
        nrows = con.sql(
            f"SELECT count(*) FROM parquet_scan('{f}')").fetchone()[0]
        if st["numRecords"] != nrows:
            print(f"stats: {rel}: numRecords {st['numRecords']} != {nrows}")
            ok = False
        nfiles += 1
        for side, agg, cmp in (("minValues", "min", "<"),
                               ("maxValues", "max", ">")):
            for c, bound in st.get(side, {}).items():
                # stats keys follow the data files: physical names on
                # mapped tables, logical otherwise
                tp = types_by_phys.get(c, types.get(c))
                assert tp is not None, f"{rel}: stats key {c} unknown"
                lit = f"DATE '{bound}'" if tp == "date" else (
                    "'" + str(bound).replace("'", "''") + "'"
                    if tp == "string" else repr(bound))
                bad = con.sql(
                    f'SELECT count(*) FROM parquet_scan(\'{f}\') '
                    f'WHERE "{c}" {cmp} {lit}'
                ).fetchone()[0]
                if bad:
                    print(f"stats: {rel}: {side}.{c}={bound} violated "
                          f"by {bad} rows")
                    ok = False
                nbounds += 1
    print(f"stats: {nfiles} files, {nbounds} bounds verified "
          + ("OK" if ok else "BAD"))

    # 3. txn watermarks (through checkpoint at v{ckpt_v} + tail)
    print(f"txns (ckpt v{ckpt_v}): {sorted(txns.items())}")
    print(check_crc(table, sizes, dvs))

    # 3a. every checkpoint restates the json log's metaData
    for msg, good in check_checkpoint_meta(table):
        print(msg)
        ok &= good

    # 3b. domain metadata: the clustering feature promises a
    #     delta.clustering domain naming physical schema columns; both
    #     domains must survive the same checkpoint+tail replay the
    #     snapshot used (not just the full json history)
    for msg in check_domains(domains, features, phys):
        print(msg)

    # 4. change data feed: every cdc-bearing commit must satisfy the
    #    algebraic identity  snap(v-1) + inserts + update_postimages
    #    - deletes - update_preimages == snap(v)  as MULTISETS — the
    #    complete correctness statement for a change feed, and it
    #    needs no key column to verify.
    ok &= check_cdf(table, con, cols, types, phys)

    con.close()
    sys.exit(0 if ok else 1)


# Not compared: createdTime is stamped per restatement, and the ICT
# enablement provenance only dates commits a checkpoint-only reader
# no longer has.
META_EXEMPT_CONF = ("delta.inCommitTimestampEnablementVersion",
                    "delta.inCommitTimestampEnablementTimestamp")


def comparable_meta(m):
    return {
        "id": m.get("id"),
        "format": {"provider": (m.get("format") or {}).get("provider"),
                   "options": (m.get("format") or {}).get("options") or {}},
        "schemaString": m.get("schemaString"),
        "partitionColumns": m.get("partitionColumns") or [],
        "configuration": {
            k: v for k, v in (m.get("configuration") or {}).items()
            if k not in META_EXEMPT_CONF},
    }


def check_checkpoint_meta(table):
    """[(message, ok)] — one per complete checkpoint whose metaData can
    be compared: each must equal the newest json metaData at or below
    its version. Skipped when log cleanup removed every such entry."""
    logdir = os.path.join(table, "_delta_log")
    metas = {}  # json entry version -> its (last) metaData
    for f in os.listdir(logdir):
        if f.endswith(".json") and not f.startswith("."):
            with open(os.path.join(logdir, f)) as fh:
                for line in fh:
                    if line.strip():
                        n = json.loads(line)
                        if "metaData" in n:
                            metas[int(f[: -len(".json")])] = n["metaData"]
    out = []
    con = duckdb.connect()
    for v, parts in sorted(complete_checkpoints(logdir).items()):
        below = [e for e in metas if e <= v]
        if not below:
            out.append((f"ckpt-meta v{v}: skipped (no json metaData "
                        "at or below it survives)", True))
            continue
        plist = ", ".join(f"'{p}'" for p in parts)
        rows = con.sql(
            f"SELECT to_json(metaData) FROM parquet_scan([{plist}], "
            "union_by_name=true) WHERE metaData.id IS NOT NULL"
        ).fetchall()
        want = comparable_meta(metas[max(below)])
        got = [comparable_meta(json.loads(r[0])) for r in rows]
        if got == [want]:
            out.append((f"ckpt-meta v{v}: equals json metaData "
                        f"v{max(below)}", True))
        else:
            out.append((f"ckpt-meta v{v}: MISMATCH vs json metaData "
                        f"v{max(below)}: {got} != {want}", False))
    con.close()
    return out


def check_domains(domains, features, phys):
    """Domain metadata (PROTOCOL.md "Domain Metadata" / delta-spark's
    ClusteringMetadataDomain): a table declaring the `clustering`
    writer feature must carry a live delta.clustering domain whose
    clusteringColumns are single-segment paths naming PHYSICAL columns
    of the current schema; a row-tracking table's high-water mark must
    be a sane integer when present. `domains` comes from the same
    checkpoint+tail replay the snapshot used, so a checkpoint that
    fails to restate a domain fails here even while the full json
    history still carries it."""
    msgs = []
    if "clustering" in features:
        assert "delta.clustering" in domains, (
            "clustering writer feature declared but no delta.clustering"
            " domain survives checkpoint+tail replay")
        cfg, removed = domains["delta.clustering"]
        assert not removed, "delta.clustering domain is tombstoned"
        ccols = json.loads(cfg)["clusteringColumns"]
        assert ccols, "delta.clustering domain with no columns"
        physnames = set(phys.values())
        for path in ccols:
            assert len(path) == 1 and path[0] in physnames, (
                f"clustering column {path} does not name a physical "
                f"schema column (have {sorted(physnames)})")
        msgs.append("domain delta.clustering: columns "
                    + ",".join(p[0] for p in ccols) + " verified OK")
    if "delta.rowTracking" in domains:
        cfg, removed = domains["delta.rowTracking"]
        if not removed:
            hwm = json.loads(cfg)["rowIdHighWaterMark"]
            assert isinstance(hwm, int) and hwm >= 0, (
                f"bad rowIdHighWaterMark {hwm!r}")
            msgs.append(f"domain delta.rowTracking: hwm={hwm} OK")
    return msgs


def check_cdf(table, con, cols, types, phys):
    logdir = os.path.join(table, "_delta_log")
    entries = sorted(
        int(f[: -len(".json")])
        for f in os.listdir(logdir)
        if f.endswith(".json") and not f.startswith(".")
    )
    if not entries or entries[0] != 0 or \
            entries != list(range(entries[-1] + 1)):
        print("cdf: skipped (log truncated — no full json chain)")
        return True
    cdf_enabled = False
    live = {}      # rel -> dv descriptor tag (or None)
    dv_tags = {}   # (rel, tag) positions already loaded
    con.sql("CREATE TABLE cdf_dead (rel VARCHAR, tag VARCHAR, pos BIGINT)")

    def load_dv(rel, dv):
        tag = json.dumps(dv, sort_keys=True)
        if (rel, tag) not in dv_tags:
            con.executemany(
                "INSERT INTO cdf_dead VALUES (?, ?, ?)",
                [(rel, tag, p) for p in dv_positions(table, dv)])
            dv_tags[(rel, tag)] = True
        return tag

    def snap_sql(state):
        sel = []
        for rel, tag in sorted(state.items()):
            f = os.path.join(table, rel)
            proj = proj_for(con, f, cols, types, phys)
            if tag is not None:
                t = tag.replace("'", "''")
                sel.append(
                    f"SELECT {proj} FROM parquet_scan('{f}', "
                    "file_row_number=true) WHERE file_row_number NOT IN "
                    f"(SELECT pos FROM cdf_dead WHERE rel = '{rel}' "
                    f"AND tag = '{t}')")
            else:
                sel.append(f"SELECT {proj} FROM parquet_scan('{f}')")
        if not sel:
            proj = ", ".join(
                f'CAST(NULL AS {SQLTYPE[types[c]]}) AS "{c}"'
                for c in cols)
            return f"SELECT {proj} WHERE 1=0"
        return " UNION ALL ".join(sel)

    def mhash(body):
        order = ", ".join(f'"{c}"' for c in cols)
        return con.sql(
            "SELECT count(*), md5(string_agg(r, '|' ORDER BY r)) FROM ("
            f"SELECT concat_ws(',', {order}) AS r FROM ({body}))"
        ).fetchone()

    n_cdc = 0
    ok = True
    for v in entries:
        prev_state = dict(live)
        cdcs, dc_adds, dc_removes = [], 0, 0
        with open(os.path.join(logdir, "%020d.json" % v)) as fh:
            for line in fh:
                n = json.loads(line)
                if "metaData" in n:
                    cfg = n["metaData"].get("configuration") or {}
                    if cfg.get("delta.enableChangeDataFeed") == "true":
                        cdf_enabled = True
                if "cdc" in n:
                    cdcs.append(n["cdc"]["path"])
                if "add" in n:
                    a = n["add"]
                    dv = a.get("deletionVector")
                    live[a["path"]] = (load_dv(a["path"], dv)
                                       if dv and dv.get("storageType")
                                       else None)
                    if a.get("dataChange"):
                        dc_adds += 1
                if "remove" in n:
                    live.pop(n["remove"]["path"], None)
                    if n["remove"].get("dataChange"):
                        dc_removes += 1
        if not cdcs:
            if cdf_enabled and dc_adds and dc_removes and v > 0:
                print(f"cdf: v{v}: dataChange rewrite without cdc on a "
                      "CDF-enabled table — inference-unsafe")
                ok = False
            continue
        n_cdc += 1
        # cdc files follow the DATA files' naming (physical under
        # column mapping — rename-stable; logical otherwise) and carry
        # the schema at their commit's time — the shared projection
        # null-fills evolution and maps physical->logical. One schema
        # probe per file, reused for both change directions.
        cdc_projs = [
            (os.path.join(table, pth),
             proj_for(con, os.path.join(table, pth), cols, types, phys))
            for pth in cdcs]
        def cdc_sql(kinds):
            return " UNION ALL ".join(
                f"SELECT {pj} FROM parquet_scan('{fp}') WHERE "
                f"_change_type IN ({kinds})"
                for fp, pj in cdc_projs)
        plus = cdc_sql("'insert', 'update_postimage'")
        minus = cdc_sql("'delete', 'update_preimage'")
        proj = ", ".join(f'"{c}"' for c in cols)
        lhs = (f"SELECT {proj} FROM ((({snap_sql(prev_state)}) "
               f"UNION ALL ({plus})) EXCEPT ALL ({minus}))")
        h_lhs = mhash(lhs)
        h_rhs = mhash(snap_sql(live))
        if h_lhs != h_rhs:
            print(f"cdf: v{v}: replay identity BROKEN "
                  f"lhs={h_lhs} rhs={h_rhs}")
            ok = False
    print(f"cdf: {n_cdc} cdc commits verified "
          + ("OK" if ok else "BAD"))
    return ok


if __name__ == "__main__":
    main()
