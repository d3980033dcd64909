"""A private PostgreSQL 15 server for the `etl_postgres` workload.

The server runs as the `postgres` user (PostgreSQL refuses root) on a
fixed port, with unix sockets only, from a fresh cluster each run. Its
directory is `.bench_build/pg` of the checkout when that user can write
there, else `/tmp/perfbench-pg-<port>`, since a checkout inside a home
directory that other users cannot enter is closed to it. The program's
`tools/start_local_pg.sh` shows the same steps.

Flush policy: `fsync=off`, `synchronous_commit=off`,
`full_page_writes=off`. Commits return before WAL reaches the disk, so
the figures price the server's CPU work and not the host's disk flush
latency, which differs from host to host.
"""
import os
import shutil
import subprocess
import time

PORT = 54331
SETTINGS = {
    "fsync": "off",
    "synchronous_commit": "off",
    "full_page_writes": "off",
    "shared_buffers": "128MB",
    "max_connections": "40",
    "listen_addresses": "''",
}
COLUMNS = ["user_id", "event_date", "event_timestamp", "event_name", "event_id", "event_name_detail"]


class Server:
    def __init__(self, build_dir):
        self.base = self._pick_base(os.path.join(build_dir, "pg"))
        self.data = os.path.join(self.base, "data")
        self.psql_args = ["-h", self.base, "-p", str(PORT), "-U", "postgres", "-d", "postgres"]

    @staticmethod
    def _as_postgres(cmd, cwd):
        if os.geteuid() == 0:
            return ["su", "postgres", "-s", "/bin/sh", "-c", f"cd '{cwd}' && {cmd}"]
        return ["/bin/sh", "-c", f"cd '{cwd}' && {cmd}"]

    def _pick_base(self, preferred):
        os.makedirs(preferred, exist_ok=True)
        if os.geteuid() != 0:
            return preferred
        shutil.chown(preferred, "postgres", "postgres")
        ok = subprocess.run(self._as_postgres(f"test -w '{preferred}'", "/"),
                            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode == 0
        if ok:
            return preferred
        shutil.rmtree(preferred, ignore_errors=True)
        return f"/tmp/perfbench-pg-{PORT}"

    def _run(self, cmd):
        subprocess.run(self._as_postgres(cmd, self.base), check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)

    def start(self):
        """Fresh cluster, started and answering; returns seconds taken."""
        t0 = time.time()
        self.stop()
        shutil.rmtree(self.base, ignore_errors=True)
        os.makedirs(self.base)
        if os.geteuid() == 0:
            shutil.chown(self.base, "postgres", "postgres")
        self._run(f"initdb -D '{self.data}' -U postgres -A trust --no-sync")
        opts = " ".join([f"-p {PORT}", f"-k {self.base}"] +
                        [f"-c {k}={v}" for k, v in SETTINGS.items()])
        self._run(f"pg_ctl -D '{self.data}' -l '{self.base}/log' -w -o \"{opts}\" start")
        return time.time() - t0

    def stop(self):
        if os.path.exists(os.path.join(self.data, "postmaster.pid")):
            subprocess.run(self._as_postgres(f"pg_ctl -D '{self.data}' -m fast -w stop", "/"),
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)

    def remove(self):
        self.stop()
        shutil.rmtree(self.base, ignore_errors=True)

    def psql(self, sql):
        out = subprocess.run(["psql"] + self.psql_args + ["-X", "-q", "-t", "-A", "-v", "ON_ERROR_STOP=1",
                                                          "-c", sql],
                             check=True, stdout=subprocess.PIPE, text=True)
        return out.stdout

    def table_rows(self, table):
        """Every row of `table` as a set of tuples, NULLs as None."""
        text = self.psql(f"COPY (SELECT {', '.join(COLUMNS)} FROM {table}) TO STDOUT")
        rows = set()
        for line in text.splitlines():
            f = [None if v == "\\N" else v.replace("\\t", "\t").replace("\\n", "\n").replace("\\\\", "\\")
                 for v in line.split("\t")]
            f[2] = int(f[2])
            rows.add(tuple(f))
        return rows

    def table_bytes(self, table):
        return int(self.psql(f"SELECT pg_total_relation_size('{table}')").strip())
