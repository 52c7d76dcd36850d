"""PostgreSQL upsert transport for the silvia load stage (I9).

Production shape: every micro-batch stages its rows and merges them with
``INSERT ... ON CONFLICT (keys) DO UPDATE`` so a replayed batch (Spark
retries a foreachBatch on failure; checkpoint replays it on restart)
REPLACES its own prior write instead of duplicating it — the exactly-once
contract of the load stage.

Transport here is libpq via the ``psql`` CLI over a unix socket: this
container ships full PostgreSQL server binaries but no JDBC driver jar and
no Python driver, so ``psql`` is the only executable client. The merge SQL
is transport-independent — with a JDBC jar present the same staging+merge
statements run through per-partition connections (see sink_jdbc_postgres,
operators/scans.py). foreachBatch executes on the driver, so a driver-side
subprocess is the honest analogue of the driver-side JDBC batch commit at
this table size (an aggregated micro-batch summary, not raw events).

Host resolution (``resolve_host``): $SILVIA_PG_HOST — a unix-socket
directory (or hostname) of a reachable server with a ``silvia`` database —
wins when set; otherwise, when the container ships server binaries (this
one does), a singleton embedded server is auto-booted under
``/tmp/silvia_pg_auto`` and reused across processes, so the REAL staged
COPY + merge path runs by default instead of only when an operator
remembers to export the env var. ``SILVIA_PG_AUTOBOOT=0`` disables the
auto-boot; any boot failure degrades silently to ``None`` and callers take
the idempotent parquet path. tests/test_pg_sink.py boots a private server
through the same ``boot_server`` helper and proves both the merge
semantics and contract-path equality.
"""

from __future__ import annotations

import os
import shutil
import subprocess

PG_DB = "silvia"
PG_USER = "postgres"
PG_BIN = "/usr/local/bin"
AUTOBOOT_ROOT = "/tmp/silvia_pg_auto"


def _resolve_psql() -> str:
    """The psql client binary beside the server binaries (the real ELF
    behind ``PG_BIN/initdb``'s symlink), else ``psql`` on PATH. On Debian
    ``/usr/bin/psql`` is a Perl wrapper (pg_wrapper) that makes a
    ``SELECT 1`` about four times slower than the binary it execs, and
    one streamed drain makes nine calls."""
    real = os.path.join(
        os.path.dirname(os.path.realpath(os.path.join(PG_BIN, "initdb"))),
        "psql")
    return real if os.access(real, os.X_OK) else "psql"


PSQL = _resolve_psql()


def pg_host() -> str | None:
    """Socket dir / host of the ambient PostgreSQL, or None (degrade)."""
    return os.environ.get("SILVIA_PG_HOST")


def _run_as_pg(cmd: str) -> subprocess.CompletedProcess:
    """PostgreSQL refuses to run as root; drop to the postgres user."""
    if os.geteuid() == 0:
        return subprocess.run(["su", "postgres", "-c", cmd], cwd="/tmp",
                              capture_output=True, text=True)
    return subprocess.run(cmd, shell=True, cwd="/tmp",
                          capture_output=True, text=True)


def have_server_binaries() -> bool:
    # server binaries live under PG_BIN symlinks; the client beside them
    if not all(shutil.which(b, path=PG_BIN) for b in ("initdb", "pg_ctl")):
        return False
    if shutil.which(PSQL) is None:
        return False
    if os.geteuid() != 0:
        return True  # non-root can run the server directly
    import pwd
    try:
        pwd.getpwnam("postgres")
        return True
    except KeyError:
        return False


def _alive(root: str) -> bool:
    try:
        return run_psql(root, "SELECT 1;", db="postgres").strip() == "1"
    except (RuntimeError, OSError):
        return False


def _expected_uids() -> set[int]:
    uids = {0, os.geteuid()}
    try:
        import pwd
        uids.add(pwd.getpwnam(PG_USER).pw_uid)
    except (ImportError, KeyError):
        pass
    return uids


def _owned_by_us(path: str) -> bool:
    try:
        return os.stat(path).st_uid in _expected_uids()
    except OSError:
        return False


def _secure_root(root: str) -> None:
    """Create ``root`` traversable ONLY by this process and the postgres
    user: owner postgres, mode 0700 (root-run case) — never the old
    world-writable 0777, which would let any local user own the socket
    dir or connect as the trust-auth superuser."""
    os.makedirs(root, exist_ok=True)
    if not _owned_by_us(root):
        raise RuntimeError(f"{root} exists but is owned by an unexpected "
                           "uid — refusing to trust it")
    if os.geteuid() == 0:
        import pwd
        pw = pwd.getpwnam(PG_USER)
        os.chown(root, pw.pw_uid, pw.pw_gid)
    os.chmod(root, 0o700)


def boot_server(root: str) -> None:
    """initdb (if needed) + start a server with its socket in ``root``
    (trust auth, no TCP, socket dir locked to the postgres user) and
    ensure the ``silvia`` database exists. Raises on failure. Shared by
    the autoboot path and the test fixture.

    Concurrency/crash safety: initdb runs into a temp dir that is
    atomically renamed to ``data`` only on success, behind an
    mkdir-based lock — a half-initialized cluster (interrupted or racing
    first boot) can never be mistaken for a valid one; losers of the
    init race wait for the winner's rename (or a live server) instead of
    starting a second initdb."""
    _secure_root(root)
    data = os.path.join(root, "data")
    lock = os.path.join(root, ".initdb.lock")
    if not os.path.isdir(data):
        import shutil as _sh
        import time as _time
        try:
            os.mkdir(lock)
            have_lock = True
        except FileExistsError:
            have_lock = False
        if have_lock:
            try:
                tmp = f"{data}.tmp-{os.getpid()}"
                _sh.rmtree(tmp, ignore_errors=True)
                p = _run_as_pg(
                    f"{PG_BIN}/initdb -A trust -U {PG_USER} -D {tmp}")
                if p.returncode != 0:
                    raise RuntimeError(
                        f"initdb failed: {p.stderr[-2000:]}")
                os.rename(tmp, data)  # atomic: data exists ⇒ complete
            finally:
                os.rmdir(lock)
        else:
            for _ in range(120):  # wait out the winner (~60 s cap)
                if os.path.isdir(data) or _alive(root):
                    break
                _time.sleep(0.5)
            if not (os.path.isdir(data) or _alive(root)):
                raise RuntimeError("timed out waiting for racing initdb")
    p = _run_as_pg(
        f"{PG_BIN}/pg_ctl -D {data} "
        f"-o '-c listen_addresses= -c unix_socket_directories={root}' "
        f"-l {root}/pg.log -w start")
    if p.returncode != 0 and not _alive(root):  # lost a boot race is fine
        raise RuntimeError(f"pg_ctl start failed: {p.stderr[-2000:]}")
    exists = run_psql(
        root, f"SELECT 1 FROM pg_database WHERE datname = '{PG_DB}';",
        db="postgres").strip()
    if exists != "1":
        p = _run_as_pg(f"{PSQL} -h {root} -U {PG_USER} -d postgres "
                       f"-c 'CREATE DATABASE {PG_DB};'")
        if p.returncode != 0 and "already exists" not in p.stderr:
            raise RuntimeError(f"create db failed: {p.stderr[-2000:]}")


def autoboot_host() -> str | None:
    """Reuse (or boot) the singleton embedded server; None if impossible.
    The server deliberately outlives the process — boot cost (~3 s initdb)
    is paid once per machine, later callers find the live socket."""
    if os.environ.get("SILVIA_PG_AUTOBOOT", "1") == "0":
        return None
    if os.path.exists(AUTOBOOT_ROOT):
        # Ownership gate FIRST: _alive() execs psql against the socket,
        # which would already run SQL against a pre-planted
        # world-writable server — never probe a dir we don't trust.
        if not _owned_by_us(AUTOBOOT_ROOT):
            return None
        if _alive(AUTOBOOT_ROOT):
            return AUTOBOOT_ROOT
    if not have_server_binaries():
        return None
    try:
        boot_server(AUTOBOOT_ROOT)
        return AUTOBOOT_ROOT
    except (RuntimeError, OSError):
        return AUTOBOOT_ROOT if _alive(AUTOBOOT_ROOT) else None


def resolve_host() -> str | None:
    """The host the load stage should use: explicit env first, then the
    auto-booted singleton, else None (callers degrade to parquet)."""
    return pg_host() or autoboot_host()


def run_psql(host: str, script: str, *, db: str = PG_DB) -> str:
    """Run a psql script (one implicit session; ``ON_ERROR_STOP`` makes any
    SQL error a non-zero exit). COPY ... FROM STDIN data can be embedded
    inline after its statement, terminated by ``\\.`` — exactly how psql
    consumes it."""
    proc = subprocess.run(
        [PSQL, "-h", host, "-U", PG_USER, "-d", db,
         "-v", "ON_ERROR_STOP=1", "-qAt", "-f", "-"],
        input=script, capture_output=True, text=True, cwd="/tmp", check=False)
    if proc.returncode != 0:
        raise RuntimeError(f"psql failed: {proc.stderr[-2000:]}")
    return proc.stdout


def canon_run_id(run_id: str) -> str:
    """The ONE canonical run-id form, shared by the write path (COPY text
    format cannot carry backslash/tab/newline unescaped) and the readback
    WHERE clause — writing a sanitized id but querying the raw one would
    make a run's own rows unfindable."""
    return (run_id.replace("\\", "").replace("\t", "")
            .replace("\n", "").replace("\r", ""))


def ensure_upsert_table(host: str, table: str) -> None:
    """Create (or migrate) the upsert target. The key includes ``run_id``
    so a caller-named table (``$SILVIA_PG_TABLE`` pointed at a shared
    warehouse table) accumulates runs side by side instead of being
    dropped up front — each run reads back only its own rows. A legacy
    table from the pre-run_id protocol is migrated in place: existing
    rows keep ``run_id = ''`` and stay readable."""
    # ``table`` may be schema-qualified (analytics.summary): the catalog
    # check must scope on table_schema/table_name separately, and the
    # legacy pkey's constraint NAME is always unqualified.
    if "." in table:
        schema, rel = table.rsplit(".", 1)
        schema_pred = f"table_schema = '{schema}'"
    else:
        rel = table
        schema_pred = "table_schema = current_schema()"
    run_psql(host, f"""
CREATE TABLE IF NOT EXISTS {table} (
  run_id     text   NOT NULL DEFAULT '',
  batch_id   bigint NOT NULL,
  event_type text   NOT NULL,
  cnt        bigint NOT NULL,
  PRIMARY KEY (run_id, batch_id, event_type)
);
DO $$
BEGIN
  IF NOT EXISTS (SELECT 1 FROM information_schema.columns
                 WHERE {schema_pred}
                   AND table_name = '{rel}'
                   AND column_name = 'run_id') THEN
    ALTER TABLE {table} ADD COLUMN run_id text NOT NULL DEFAULT '';
    ALTER TABLE {table} DROP CONSTRAINT IF EXISTS {rel}_pkey;
    ALTER TABLE {table} ADD PRIMARY KEY (run_id, batch_id, event_type);
  END IF;
END $$;
""")


def copy_upsert(host: str, table: str,
                rows: list[tuple[int, str, int]],
                run_id: str = "") -> None:
    """Stage + merge one micro-batch: COPY into a temp table (bulk path, the
    same wire shape a JDBC batch insert takes), then a single merge statement
    keyed on (run_id, batch_id, event_type). Replay-idempotent by
    construction; ``run_id`` scopes the merge so concurrent/successive runs
    against one shared table never clobber each other's batches."""
    if not rows:
        return
    rid = canon_run_id(run_id)
    data = "\n".join(f"{rid}\t{b}\t{t}\t{c}" for b, t, c in rows)
    run_psql(host, f"""
BEGIN;
CREATE TEMP TABLE _stage (LIKE {table} INCLUDING ALL) ON COMMIT DROP;
COPY _stage (run_id, batch_id, event_type, cnt) FROM STDIN;
{data}
\\.
INSERT INTO {table} AS t (run_id, batch_id, event_type, cnt)
SELECT run_id, batch_id, event_type, cnt FROM _stage
ON CONFLICT (run_id, batch_id, event_type)
DO UPDATE SET cnt = EXCLUDED.cnt;
COMMIT;
""")


def read_upsert_table(host: str, table: str,
                      run_id: str | None = None) -> list[tuple[int, str,
                                                               int]]:
    """Rows as (batch_id, event_type, cnt); ``run_id`` (when given) limits
    the readback to one run's rows — the caller-named-table contract."""
    where = ""
    if run_id is not None:
        rid = canon_run_id(run_id).replace("'", "''")
        where = f"WHERE run_id = '{rid}' "
    out = run_psql(host, f"SELECT batch_id, event_type, cnt FROM {table} "
                         f"{where}ORDER BY batch_id, event_type;")
    rows = []
    for line in out.strip().splitlines():
        b, t, c = line.split("|")
        rows.append((int(b), t, int(c)))
    return rows
