"""CLI entry point — the engine's operational surface.

The reference shipped a `pgshovel` CLI for administration
(create-set/upgrade — ZooKeeper + trigger install); this engine's
operations are queries and pipelines, so the CLI surfaces those:

    python -m pgshovel_spark list
    python -m pgshovel_spark run q_agg_pricing_summary --sf-dir /root/testdata/sf0.01 [--limit 20]
    python -m pgshovel_spark sql "SELECT count(*) FROM lineitem" --sf-dir ...
    python -m pgshovel_spark bench [--sf-dir ...]

Round 12 adds the OPERATIONAL surface (the reference's click CLI was
administration-first):

    python -m pgshovel_spark admin create-set s1 --store /adm \
        --table "orders:o_orderkey:o_orderkey"
    python -m pgshovel_spark admin get-set s1 --store /adm
    python -m pgshovel_spark admin bump-epoch s1 --store /adm
    python -m pgshovel_spark cdc create-slot s --sockdir /run/pg
    python -m pgshovel_spark cdc create-publication p --sockdir /run/pg \
        --tables t1,t2 --where "t1=id % 2 = 0" --columns t1=id,v
    python -m pgshovel_spark cdc peek s --publication p --sockdir /run/pg
    python -m pgshovel_spark cdc bootstrap s --sockdir /run/pg \
        --table t1:id --table t2:k --out /data/boot
    python -m pgshovel_spark cdc stream s --sockdir /run/pg \
        --publication p --to-table dst --keys id \
        --flatten "id:long,v:string" --checkpoint /ck
    python -m pgshovel_spark cdc stream relay --sockdir /run/pg \
        --shards '[{"slot":"s1","publication":"p1","database":"d1"},
                   {"slot":"s2","publication":"p2","database":"d2"}]' \
        --to-table dst --keys id --flatten "id:long,v:string" \
        --max-changes 100000 --checkpoint /ck
    python -m pgshovel_spark cdc rebootstrap s1 --sockdir /run/pg \
        --table t1:id --to-table dst --keys id \
        --flatten "id:long,v:string" --epoch 1   # then: stream, fresh /ck
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _parse_table_spec(spec: str):
    """'name:cursor_col:key1[,key2][:col1,col2]' -> (name, TableConfig)."""
    from pgshovel_spark.sources.administration import TableConfig

    bits = spec.split(":")
    if len(bits) not in (3, 4):
        raise SystemExit(
            f"bad --table spec {spec!r}: want name:cursor_col:keys[:columns]"
        )
    name, cursor, keys = bits[0], bits[1], bits[2].split(",")
    cols = bits[3].split(",") if len(bits) == 4 else None
    return name, TableConfig(cursor_col=cursor, key_cols=keys, columns=cols)


def _cmd_admin(args) -> int:
    from pgshovel_spark.sources import administration as adm

    if args.action in ("create-set", "update-set"):
        if not args.table:
            print("create-set/update-set need at least one --table", file=sys.stderr)
            return 2
        cfg = adm.SetConfig(
            name=args.name,
            tables=dict(_parse_table_spec(s) for s in args.table),
        )
        if args.action == "create-set":
            out = adm.create_set(args.store, cfg)
        else:
            out = adm.update_set(args.store, cfg, expect_version=args.expect_version)
    elif args.action == "get-set":
        out = adm.get_set(args.store, args.name)
    else:  # bump-epoch
        out = adm.bump_epoch(args.store, args.name)
    print(json.dumps(adm._to_payload(out), indent=1, sort_keys=True))
    return 0


def _cmd_cdc(args) -> int:
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources import pglogical as pgl
    from pgshovel_spark.sources.pgwire import PgParams

    if not args.sockdir and not args.host:
        print("cdc needs --sockdir or --host", file=sys.stderr)
        return 2
    if args.host and not args.password:
        # secrets on argv leak via process listings and shell history:
        # prefer the environment (PGPASSWORD is the libpq convention)
        import os

        args.password = os.environ.get("PGSHOVEL_PASSWORD") or os.environ.get(
            "PGPASSWORD", ""
        )
    params = PgParams(
        sockdir=args.sockdir,
        database=args.database,
        user=args.user,
        port=args.port,
        host=args.host,
        password=args.password,
        sslmode=args.sslmode,
        sslrootcert=args.sslrootcert,
    )

    def _table_specs():
        """``--table T[:PART_COL]`` values as (table, partition column)
        pairs, or None after naming a table that has no column."""
        specs = []
        for t in args.table:
            name, _, pcol = t.partition(":")
            pcol = pcol or args.partition_col
            if not pcol:
                print(
                    f"{args.action}: no partition column for {name!r}"
                    " (use T:PART_COL or --partition-col)",
                    file=sys.stderr,
                )
                return None
            specs.append((name, pcol))
        return specs

    if args.action == "create-slot":
        lsn = po.create_slot_pgoutput(params, args.name)
        print(json.dumps({"slot": args.name, "consistent_point": lsn}))
        return 0
    if args.action == "drop-slot":
        pgl.drop_slot(params, args.name)
        print(json.dumps({"dropped": args.name}))
        return 0
    if args.action == "create-publication":
        if not args.tables:
            print("create-publication needs --tables", file=sys.stderr)
            return 2
        where = dict(s.split("=", 1) for s in args.where)
        columns = {
            t: c.split(",") for t, c in (s.split("=", 1) for s in args.columns)
        }
        po.create_publication(
            params,
            args.name,
            args.tables.split(","),
            where=where or None,
            columns=columns or None,
        )
        print(json.dumps({"publication": args.name, "tables": args.tables.split(",")}))
        return 0
    if args.action == "bootstrap":
        # the DAY-ONE operation in one command: create the slot WITH
        # its exported snapshot, scan EVERY requested table at exactly
        # that point (one snapshot, held by the open walsender session,
        # covers them all — the multi-table replication-set shape),
        # land parquet per table — then start the stream from this
        # slot with zero gap/overlap
        specs = _table_specs()
        if specs is None:
            return 2
        if not (specs and args.out):
            print("bootstrap needs --table and --out", file=sys.stderr)
            return 2
        import os

        from pgshovel_spark.session import get_session
        from pgshovel_spark.sources.pgdatasource import (
            pg_options,
            register_pgshovel,
        )

        spark = get_session("cli-bootstrap")
        register_pgshovel(spark)
        counts = {}
        with po.exported_slot_snapshot(params, args.name) as (cpoint, snap):
            for table, pcol in specs:
                out_dir = (
                    args.out
                    if len(specs) == 1
                    else os.path.join(args.out, table)
                )
                (
                    spark.read.format("pgshovel")
                    .options(**pg_options(params))
                    .option("table", table)
                    .option("partition_col", pcol)
                    .option("num_partitions", str(args.num_partitions))
                    .option("snapshot", snap)
                    .load()
                    .write.mode("errorifexists")
                    .parquet(out_dir)
                )
                counts[table] = spark.read.parquet(out_dir).count()
        print(
            json.dumps(
                {
                    "slot": args.name,
                    "consistent_point": cpoint,
                    "rows": counts,
                    "out": args.out,
                }
            )
        )
        return 0
    if args.action == "rebootstrap":
        # self-healing recovery from an INVALIDATED slot (wal_status
        # 'lost' — the typed SlotInvalidatedError the stream raises):
        # drop the dead slot, recreate it under the same name with an
        # exported snapshot, scan every table at exactly that point
        # and 2PC-upsert the image into the target at the bumped
        # --epoch; restart `cdc stream` afterwards with a FRESH
        # checkpoint and the same --epoch.
        specs = _table_specs()
        if specs is None:
            return 2
        if not (specs and args.to_table and args.keys and args.flatten):
            print(
                "rebootstrap needs --table, --to-table, --keys and"
                " --flatten",
                file=sys.stderr,
            )
            return 2
        from pgshovel_spark.session import get_session
        from pgshovel_spark.sources.pgdatasource import (
            register_pgshovel,
            rebootstrap_slot,
        )

        spark = get_session("cli-rebootstrap")
        register_pgshovel(spark)
        cols = [s.partition(":")[0] for s in args.flatten.split(",")]
        try:
            res = rebootstrap_slot(
                spark,
                params,
                args.name,
                specs,
                to_table=args.to_table,
                keys=[k.strip() for k in args.keys.split(",")],
                columns=cols,
                epoch=args.epoch,
                num_partitions=args.num_partitions,
                force=args.force,
            )
        except ValueError as e:
            print(str(e), file=sys.stderr)
            return 2
        print(json.dumps(res))
        return 0
    if args.action == "stream":
        # the RELAY DAEMON as one command (the reference's core
        # process): slot(s) -> native streaming source -> flatten ->
        # two-phase-commit upsert into the target table, checkpoint
        # as the only ledger.  The partition-parallel reader (one
        # slot per input partition, executor-side decode) reads the
        # --shards list, or NAME's slot as a one-shard list.  INSERT/UPDATE
        # images are upserted; DELETEs are SKIPPED by design (the
        # upsert sink carries no tombstone semantics) —
        # deletes-needing consumers read the CHANGE envelope directly
        # (peek / readStream).
        if not (
            (args.publication or args.shards) and args.to_table
            and args.keys and args.flatten and args.checkpoint
        ):
            print(
                "stream needs --publication (or --shards), --to-table,"
                " --keys, --flatten and --checkpoint",
                file=sys.stderr,
            )
            return 2
        from pyspark.sql import functions as F

        from pgshovel_spark.session import get_session
        from pgshovel_spark.sources.pgdatasource import (
            pg_options,
            register_pgshovel,
        )

        spark = get_session("cli-relay")
        register_pgshovel(spark)
        cols = []
        for spec in args.flatten.split(","):
            name, _, typ = spec.partition(":")
            cols.append(
                F.col("after")[name].cast(typ or "string").alias(name)
            )
        keys = [k.strip() for k in args.keys.split(",")]
        src = spark.readStream.format("pgshovel").options(
            **pg_options(params)
        )
        if args.shards:
            src = src.option("shards", args.shards)
        else:
            src = src.option("slot", args.name).option(
                "publication", args.publication
            )
        if args.epoch:
            src = src.option("epoch", str(args.epoch))
        if args.max_changes:
            src = src.option("max_changes", str(args.max_changes))
        flat = (
            src.load()
            .filter(F.col("op") != "DELETE")
            .select(*cols, F.col("epoch"), F.col("seq"))
            .dropna(subset=keys)
            .repartition(max(2, len(keys)), *keys)
        )
        q = (
            flat.writeStream.format("pgshovel")
            .options(**pg_options(params))
            .option("table", args.to_table)
            .option("keys", args.keys)
            .option("order_cols", "epoch,seq")
            .option("checkpointLocation", args.checkpoint)
            .trigger(processingTime=f"{args.trigger_ms} milliseconds")
            .start()
        )
        print(
            json.dumps(
                {"relay": args.name, "to": args.to_table, "id": q.id.__str__()}
            ),
            flush=True,
        )
        try:
            if args.run_secs:
                q.awaitTermination(args.run_secs)
            else:
                q.awaitTermination()
        finally:
            q.stop()
        return 0
    # peek: non-destructive decode of the slot backlog, one JSON line
    # per change (ts rendered ISO) — the operational "what is in the
    # slot right now" probe
    if not args.publication:
        print("peek needs --publication", file=sys.stderr)
        return 2
    raw = po.raw_slot_changes_pgoutput(
        params, args.name, args.publication, limit=args.limit
    )
    for ch in po.parse_pgoutput(raw):
        ch = dict(ch)
        if ch.get("ts") is not None and not isinstance(ch["ts"], str):
            ch["ts"] = ch["ts"].isoformat()
        print(json.dumps(ch, sort_keys=True))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pgshovel_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries (H = oracle-checked)")

    run = sub.add_parser("run", help="run one named query, print rows")
    run.add_argument("name")
    run.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    run.add_argument("--limit", type=int, default=20)
    run.add_argument("--explain", action="store_true", help="print the physical plan instead")

    sql = sub.add_parser("sql", help="run ad-hoc SQL over the registered views")
    sql.add_argument("query")
    sql.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sql.add_argument("--limit", type=int, default=20)

    sub.add_parser("bench", help="time every query; one JSON line")

    # -- replication-set administration (the reference's create-set/
    # upgrade CLI lifecycle over the coordinator seam) ------------------
    adm = sub.add_parser(
        "admin",
        help="replication-set admin: create-set/get-set/update-set/bump-epoch",
    )
    adm.add_argument(
        "action",
        choices=("create-set", "get-set", "update-set", "bump-epoch"),
    )
    adm.add_argument("name")
    adm.add_argument(
        "--store", required=True,
        help="coordinator store: a directory (file backend, versioned"
        " JSON + O_EXCL claims)",
    )
    adm.add_argument(
        "--table", action="append", default=[], metavar="SPEC",
        help="table spec 'name:cursor_col:key1[,key2][:col1,col2]'"
        " (create-set/update-set; repeatable)",
    )
    adm.add_argument(
        "--expect-version", type=int, default=None,
        help="update-set: compare-and-set base version",
    )

    # -- live-Postgres CDC operations ----------------------------------
    cdc = sub.add_parser(
        "cdc", help="live CDC ops: create-slot/drop-slot/create-publication/peek"
    )
    cdc.add_argument(
        "action",
        choices=(
            "create-slot", "drop-slot", "create-publication", "peek",
            "bootstrap", "stream", "rebootstrap",
        ),
    )
    cdc.add_argument("name", help="slot or publication name")
    cdc.add_argument("--sockdir", default="", help="UNIX-socket transport")
    cdc.add_argument("--host", default="", help="TCP transport (SCRAM auth)")
    cdc.add_argument("--port", type=int, default=5432)
    cdc.add_argument(
        "--password", default="",
        help="TCP auth secret; prefer $PGSHOVEL_PASSWORD / $PGPASSWORD"
        " (argv is visible in process listings)",
    )
    cdc.add_argument("--sslmode", default="disable",
                     choices=("disable", "require", "verify-full"))
    cdc.add_argument("--sslrootcert", default="")
    cdc.add_argument("--database", default="postgres")
    cdc.add_argument("--user", default="postgres")
    cdc.add_argument("--tables", help="create-publication: comma-separated tables")
    cdc.add_argument(
        "--where", action="append", default=[], metavar="TABLE=PRED",
        help="create-publication: PG15 row filter (repeatable)",
    )
    cdc.add_argument(
        "--columns", action="append", default=[], metavar="TABLE=C1,C2",
        help="create-publication: PG15 column list (repeatable)",
    )
    cdc.add_argument("--publication", help="peek: publication to decode under")
    cdc.add_argument("--limit", type=int, default=None, help="peek: bound raw rows")
    cdc.add_argument(
        "--table", action="append", default=[], metavar="T[:PART_COL]",
        help="bootstrap: table to snapshot (repeatable — ALL tables"
        " scan under the slot's ONE exported snapshot; per-table"
        " partition column after ':', else --partition-col)",
    )
    cdc.add_argument("--partition-col", help="bootstrap: default slice column")
    cdc.add_argument("--out", help="bootstrap: parquet output directory")
    cdc.add_argument("--num-partitions", type=int, default=8)
    cdc.add_argument("--to-table", help="stream: target upsert table")
    cdc.add_argument("--keys", help="stream: comma-separated key columns")
    cdc.add_argument(
        "--flatten",
        help="stream: comma-separated after-image columns as name:type"
        " (e.g. 'id:long,v:string')",
    )
    cdc.add_argument("--checkpoint", help="stream: checkpoint directory")
    cdc.add_argument(
        "--shards",
        help="stream: JSON array of {slot, publication[, database]} —"
        " read these slots instead of NAME's single slot",
    )
    cdc.add_argument(
        "--epoch", type=int, default=0,
        help="stream/rebootstrap: publisher epoch (bump on rebootstrap)",
    )
    cdc.add_argument(
        "--max-changes", type=int, default=0,
        help="stream: bound changes per micro-batch (giant transactions"
        " then span several bounded batches)",
    )
    cdc.add_argument(
        "--force", action="store_true",
        help="rebootstrap: rebuild even though the slot is not 'lost'",
    )
    cdc.add_argument("--trigger-ms", type=int, default=1000)
    cdc.add_argument(
        "--run-secs", type=int, default=0,
        help="stream: stop after N seconds (0 = run until interrupted)",
    )

    args = ap.parse_args(argv)

    if args.cmd == "admin":
        return _cmd_admin(args)
    if args.cmd == "cdc":
        return _cmd_cdc(args)

    from pgshovel_spark.queries import all_oracles, all_queries

    if args.cmd == "list":
        oracles = all_oracles()
        for name in sorted(all_queries()):
            print(f"{name}  [{'H' if name in oracles else 'R'}]")
        return 0

    from pgshovel_spark.session import get_session

    if args.cmd == "run":
        qs = all_queries()
        if args.name not in qs:
            print(f"unknown query {args.name!r}; `list` shows all", file=sys.stderr)
            return 2
        spark = get_session("cli")
        df = qs[args.name](spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        else:
            t0 = time.time()
            df.show(args.limit, truncate=False)
            print(f"[{time.time() - t0:.2f}s]", file=sys.stderr)
        return 0

    if args.cmd == "sql":
        from pgshovel_spark.sources.tables import register_views

        spark = get_session("cli")
        register_views(spark, args.sf_dir)
        spark.sql(args.query).show(args.limit, truncate=False)
        return 0

    if args.cmd == "bench":
        import bench

        bench.main()
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
