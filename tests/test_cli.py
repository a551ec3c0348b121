"""CLI operational surface — admin lifecycle + live CDC commands.

The reference's CLI was administration-first (create-set/upgrade over
the coordinator); these tests drive the argparse surface end to end:
admin subcommands against the file backend, CDC subcommands against a
live scratch Postgres (skipped like every live test when the server
cannot be provisioned).
"""

from __future__ import annotations

import json

import pytest

from pgshovel_spark.__main__ import main


def run_cli(capsys, *argv) -> tuple[int, str]:
    rc = main(list(argv))
    out = capsys.readouterr().out
    return rc, out


def test_cli_admin_lifecycle(tmp_path, capsys):
    store = str(tmp_path / "adm")
    rc, out = run_cli(
        capsys, "admin", "create-set", "s1", "--store", store,
        "--table", "orders:o_orderkey:o_orderkey",
    )
    assert rc == 0
    cfg = json.loads(out)
    assert cfg["version"] == 1 and cfg["epoch"] == 0
    assert cfg["tables"]["orders"]["key_cols"] == ["o_orderkey"]

    rc, out = run_cli(
        capsys, "admin", "update-set", "s1", "--store", store,
        "--table", "orders:o_orderkey:o_orderkey:o_orderkey,o_custkey",
        "--expect-version", "1",
    )
    assert rc == 0
    cfg = json.loads(out)
    assert cfg["version"] == 2
    assert cfg["tables"]["orders"]["columns"] == ["o_orderkey", "o_custkey"]

    rc, out = run_cli(capsys, "admin", "bump-epoch", "s1", "--store", store)
    assert rc == 0
    assert json.loads(out)["epoch"] == 1

    rc, out = run_cli(capsys, "admin", "get-set", "s1", "--store", store)
    assert rc == 0
    got = json.loads(out)
    assert got["version"] == 3 and got["epoch"] == 1

    # stale CAS base loses loudly
    from pgshovel_spark.sources.administration import ConfigError

    with pytest.raises(ConfigError, match="version conflict"):
        run_cli(
            capsys, "admin", "update-set", "s1", "--store", store,
            "--table", "orders:o_orderkey:o_orderkey",
            "--expect-version", "1",
        )


def test_cli_admin_bad_spec_fails(tmp_path, capsys):
    with pytest.raises(SystemExit):
        run_cli(
            capsys, "admin", "create-set", "s2",
            "--store", str(tmp_path / "adm"), "--table", "orders",
        )


def test_cli_cdc_live(capsys):
    from pgshovel_spark.sources.pgwire import PgUnavailable, ScratchPostgres

    try:
        server = ScratchPostgres()
        params = server.start()
    except PgUnavailable as e:
        pytest.skip(f"live Postgres unavailable: {e}")
    try:
        with params.connect() as c:
            c.query("create table cli_t(id bigint primary key, v text, sec text)")
        rc, out = run_cli(
            capsys, "cdc", "create-publication", "cli_pub",
            "--sockdir", params.sockdir, "--tables", "cli_t",
            "--where", "cli_t=id % 2 = 0", "--columns", "cli_t=id,v",
        )
        assert rc == 0 and json.loads(out)["publication"] == "cli_pub"
        rc, out = run_cli(
            capsys, "cdc", "create-slot", "cli_slot",
            "--sockdir", params.sockdir,
        )
        assert rc == 0 and "/" in json.loads(out)["consistent_point"]
        with params.connect() as c:
            c.query(
                "insert into cli_t select g, 'v' || g, 's' || g"
                " from generate_series(1, 6) g"
            )
        rc, out = run_cli(
            capsys, "cdc", "peek", "cli_slot",
            "--publication", "cli_pub", "--sockdir", params.sockdir,
        )
        assert rc == 0
        rows = [json.loads(ln) for ln in out.strip().splitlines()]
        # row filter (even ids) + column list (no 'sec') both applied
        assert [r["after"]["id"] for r in rows] == ["2", "4", "6"]
        assert all(set(r["after"]) == {"id", "v"} for r in rows)
        rc, out = run_cli(
            capsys, "cdc", "drop-slot", "cli_slot",
            "--sockdir", params.sockdir,
        )
        assert rc == 0
    finally:
        server.stop()


def test_cli_cdc_bootstrap_live(tmp_path, capsys, spark):
    """`cdc bootstrap` = the atomic day-one operation in one command:
    slot created with its exported snapshot, table scanned at exactly
    that point, parquet landed — rows committed after the consistent
    point must be absent from the bootstrap (they belong to the
    stream)."""
    from pgshovel_spark.sources.pgwire import PgUnavailable, ScratchPostgres

    try:
        server = ScratchPostgres()
        params = server.start()
    except PgUnavailable as e:
        pytest.skip(f"live Postgres unavailable: {e}")
    try:
        with params.connect() as c:
            c.query("create table bs_cli(id bigint primary key, v text)")
            c.query(
                "insert into bs_cli select g, 'x' || g"
                " from generate_series(1, 120) g"
            )
            c.query("create publication bs_cli_pub for table bs_cli")
        out_dir = str(tmp_path / "boot")
        rc, out = run_cli(
            capsys, "cdc", "bootstrap", "bs_cli_slot",
            "--sockdir", params.sockdir, "--table", "bs_cli",
            "--partition-col", "id", "--out", out_dir,
        )
        assert rc == 0
        res = json.loads(out)
        assert res["rows"] == {"bs_cli": 120} and "/" in res["consistent_point"]
        # post-point write: stream-half only, never in the bootstrap
        with params.connect() as c:
            c.query("insert into bs_cli values (999, 'late')")
        pdf = spark.read.parquet(out_dir)
        assert pdf.count() == 120
        assert pdf.filter("id = 999").count() == 0
        # the slot exists and decodes the post-point write
        rc, out = run_cli(
            capsys, "cdc", "peek", "bs_cli_slot",
            "--publication", "bs_cli_pub", "--sockdir", params.sockdir,
        )
        assert rc == 0
        rows = [json.loads(ln) for ln in out.strip().splitlines()]
        assert [r["after"]["id"] for r in rows] == ["999"]
    finally:
        server.stop()


def test_cli_cdc_bootstrap_multi_table_live(tmp_path, capsys, spark):
    """Multi-table bootstrap: every table scans under the slot's ONE
    exported snapshot (the replication-set day-one) — per-table
    parquet outputs, per-table partition columns via T:PART_COL."""
    from pgshovel_spark.sources.pgwire import PgUnavailable, ScratchPostgres

    try:
        server = ScratchPostgres()
        params = server.start()
    except PgUnavailable as e:
        pytest.skip(f"live Postgres unavailable: {e}")
    try:
        with params.connect() as c:
            c.query("create table mb_a(id bigint primary key, v text)")
            c.query("create table mb_b(k bigint primary key, w text)")
            c.query(
                "insert into mb_a select g, 'a' || g"
                " from generate_series(1, 80) g"
            )
            c.query(
                "insert into mb_b select g, 'b' || g"
                " from generate_series(1, 40) g"
            )
        out_dir = str(tmp_path / "mboot")
        rc, out = run_cli(
            capsys, "cdc", "bootstrap", "mb_slot",
            "--sockdir", params.sockdir,
            "--table", "mb_a:id", "--table", "mb_b:k",
            "--out", out_dir,
        )
        assert rc == 0
        res = json.loads(out)
        assert res["rows"] == {"mb_a": 80, "mb_b": 40}
        assert spark.read.parquet(out_dir + "/mb_a").count() == 80
        assert spark.read.parquet(out_dir + "/mb_b").count() == 40
    finally:
        server.stop()


def test_cli_cdc_stream_relay_live(tmp_path, capsys, spark):
    """`cdc stream` = the relay daemon as one command: slot -> native
    source -> flatten -> 2PC upsert, run for a bounded window, end
    state exact (inserts + an update land; the delete is skipped by
    the documented upsert semantics)."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgwire import PgUnavailable, ScratchPostgres

    try:
        server = ScratchPostgres()
        params = server.start()
    except PgUnavailable as e:
        pytest.skip(f"live Postgres unavailable: {e}")
    try:
        with params.connect() as c:
            c.query("create table rl_src(id bigint primary key, v text)")
            c.query(
                "create table rl_dst(id bigint primary key, v text,"
                " epoch bigint, seq bigint)"
            )
        po.create_publication(params, "rl_pub", ["rl_src"])
        po.create_slot_pgoutput(params, "rl_slot")
        with params.connect() as c:
            c.query(
                "insert into rl_src select g, 'v' || g"
                " from generate_series(1, 40) g"
            )
            c.query("update rl_src set v = 'u7' where id = 7")
            c.query("delete from rl_src where id = 9")
        # --run-secs is a pure wall-clock bound: on a loaded box the
        # stream's startup can eat the whole window before the first
        # batch commits.  A re-run is exact by design (checkpoint
        # resumes, the slot only advances on commit), so retry the
        # bounded window instead of demanding one lucky draw.
        for attempt in range(3):
            rc, out = run_cli(
                capsys, "cdc", "stream", "rl_slot",
                "--sockdir", params.sockdir,
                "--publication", "rl_pub",
                "--to-table", "rl_dst", "--keys", "id",
                "--flatten", "id:long,v:string",
                "--checkpoint", str(tmp_path / "ck"),
                "--trigger-ms", "300", "--run-secs", "12",
            )
            assert rc == 0
            assert json.loads(out.splitlines()[0])["relay"] == "rl_slot"
            with params.connect() as c:
                if c.one("select count(*) from rl_dst") == 40:
                    break
        with params.connect() as c:
            assert c.one("select count(*) from rl_dst") == 40
            assert c.one("select v from rl_dst where id = 7") == "u7"
            # the delete was skipped: id 9's last upserted image stays
            assert c.one("select count(*) from rl_dst where id = 9") == 1
    finally:
        server.stop()


def test_cli_cdc_stream_sharded_live(tmp_path, capsys, spark):
    """`cdc stream --shards` = the operational front door running the
    FLAGSHIP partition-parallel reader: two slots with disjoint
    publications relayed by one command into one target, exact end
    state per table, with --max-changes bounding batches."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgwire import PgUnavailable, ScratchPostgres

    try:
        server = ScratchPostgres()
        params = server.start()
    except PgUnavailable as e:
        pytest.skip(f"live Postgres unavailable: {e}")
    try:
        with params.connect() as c:
            # disjoint key ranges so one dst table can mirror both
            c.query("create table sh_a(id bigint primary key, v text)")
            c.query("create table sh_b(id bigint primary key, v text)")
            c.query(
                "create table sh_dst(id bigint primary key, v text,"
                " epoch bigint, seq bigint)"
            )
        po.create_publication(params, "sh_pub_a", ["sh_a"])
        po.create_publication(params, "sh_pub_b", ["sh_b"])
        po.create_slot_pgoutput(params, "sh_slot_a")
        po.create_slot_pgoutput(params, "sh_slot_b")
        with params.connect() as c:
            c.query(
                "insert into sh_a select g, 'a' || g"
                " from generate_series(1, 30) g"
            )
            c.query(
                "insert into sh_b select g, 'b' || g"
                " from generate_series(101, 120) g"
            )
            c.query("update sh_a set v = 'ua' where id = 3")
        shards = json.dumps(
            [
                {"slot": "sh_slot_a", "publication": "sh_pub_a"},
                {"slot": "sh_slot_b", "publication": "sh_pub_b"},
            ]
        )
        # bounded-window retry, same rationale as the single-slot
        # relay test above: wall-clock windows lose to slow startup
        for attempt in range(3):
            rc, out = run_cli(
                capsys, "cdc", "stream", "relay",
                "--sockdir", params.sockdir,
                "--shards", shards,
                "--to-table", "sh_dst", "--keys", "id",
                "--flatten", "id:long,v:string",
                "--max-changes", "10000",
                "--checkpoint", str(tmp_path / "ck"),
                "--trigger-ms", "300", "--run-secs", "15",
            )
            assert rc == 0
            assert json.loads(out.splitlines()[0])["relay"] == "relay"
            with params.connect() as c:
                if c.one("select count(*) from sh_dst") == 50:
                    break
        with params.connect() as c:
            # both pubs landed through ONE query: both slots of the
            # shards list were read (no 'slot' option was given)
            assert c.one("select count(*) from sh_dst") == 50
            assert c.one("select v from sh_dst where id = 3") == "ua"
            assert c.one(
                "select count(*) from sh_dst where id > 100"
            ) == 20
        # NOTE: pgshovel_shard_meta rows are NOT asserted — commit(N)
        # fires only when batch N+1 is constructed, and this bounded
        # run may construct exactly one batch
    finally:
        server.stop()


def test_cli_cdc_rebootstrap_refuses_healthy_slot(capsys, spark):
    """`cdc rebootstrap` must refuse to destroy a slot that is NOT
    invalidated (wal_status != 'lost') unless --force — rebuilding a
    live shard drops unconsumed changes.  The full lost-slot recovery
    is drilled at the API level (test_pg_live
    test_rebootstrap_self_heal_end_exact)."""
    from pgshovel_spark.sources import pgoutput as po
    from pgshovel_spark.sources.pgwire import PgUnavailable, ScratchPostgres

    try:
        server = ScratchPostgres()
        params = server.start()
    except PgUnavailable as e:
        pytest.skip(f"live Postgres unavailable: {e}")
    try:
        with params.connect() as c:
            c.query("create table rbh(id bigint primary key, v text)")
            c.query(
                "create table rbh_dst(id bigint primary key, v text,"
                " epoch bigint, seq bigint)"
            )
        po.create_slot_pgoutput(params, "rbh_slot")
        rc, _out = run_cli(
            capsys, "cdc", "rebootstrap", "rbh_slot",
            "--sockdir", params.sockdir, "--table", "rbh:id",
            "--to-table", "rbh_dst", "--keys", "id",
            "--flatten", "id:long,v:string", "--epoch", "1",
        )
        assert rc == 2  # refused: the slot is healthy
        # the slot survived the refusal
        from pgshovel_spark.sources.pglogical import slot_wal_status

        assert slot_wal_status(params, "rbh_slot") is not None

        # --force rebuilds deliberately
        rc, out = run_cli(
            capsys, "cdc", "rebootstrap", "rbh_slot",
            "--sockdir", params.sockdir, "--table", "rbh:id",
            "--to-table", "rbh_dst", "--keys", "id",
            "--flatten", "id:long,v:string", "--epoch", "1", "--force",
        )
        assert rc == 0
        res = json.loads(out)
        assert res["epoch"] == 1 and "/" in res["consistent_point"]
    finally:
        server.stop()
