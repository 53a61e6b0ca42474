"""Writer lock for the parquet-swap ledgers (history / vector index /
outbox / claim ledger).

The reference serializes these read-modify-write cycles in Postgres
transactions (backend/workflow_manager/workflow_v2/models/
file_history.py:14-54 relies on row-level upsert semantics). The
parquet substitute's atomic directory swap protects concurrent
*readers*, but two concurrent *writers* would each read the same base,
write disjoint staging dirs, and the second swap would silently drop
the first writer's rows.

`LedgerLock` serializes writers with an O_CREAT|O_EXCL lock file — the
one primitive that is atomic on every POSIX filesystem and on the
local/NFS mounts this engine's single-node ledgers live on. Stale
locks (a writer that died mid-merge) are broken after `stale_s` by
mtime. At cluster scale the ledgers become Delta/Iceberg tables and
this file is replaced by their optimistic-concurrency commit protocol
— the store APIs don't change (same reasoning as sinks/history.py's
MERGE contract note). `swap_commit` is the directory swap those
writers run under the lock; `swap_table` finds the table a crashed
swap left behind.
"""

from __future__ import annotations

import os
import shutil
import time


class LedgerLock:
    """Mutual exclusion for ledger writers via an atomic lock file.

    Usage: `with LedgerLock(ledger_path): <read-modify-write-swap>`.
    Raises TimeoutError if another writer holds the lock for longer
    than `timeout_s`; locks older than `stale_s` are assumed abandoned
    (writer crashed between acquire and release) and broken.
    """

    def __init__(
        self,
        path: str,
        timeout_s: float = 120.0,
        stale_s: float = 600.0,
        poll_s: float = 0.05,
    ):
        self.lock_path = f"{path}.lock"
        self.timeout_s = timeout_s
        self.stale_s = stale_s
        self.poll_s = poll_s
        self._fd: int | None = None

    def _try_break_stale(self) -> None:
        try:
            age = time.time() - os.stat(self.lock_path).st_mtime
            if age > self.stale_s:
                os.unlink(self.lock_path)  # best-effort; a racer may win
        except OSError:
            pass  # lock released or broken by another waiter meanwhile

    def __enter__(self) -> "LedgerLock":
        os.makedirs(os.path.dirname(os.path.abspath(self.lock_path)), exist_ok=True)
        deadline = time.monotonic() + self.timeout_s
        while True:
            try:
                self._fd = os.open(
                    self.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                os.write(self._fd, f"{os.getpid()} {time.time()}".encode())
                return self
            except FileExistsError:
                self._try_break_stale()
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"ledger writer lock {self.lock_path} held for more than "
                        f"{self.timeout_s}s (holder: "
                        f"{self._holder_info()})"
                    ) from None
                time.sleep(self.poll_s)

    def _holder_info(self) -> str:
        try:
            with open(self.lock_path) as f:
                return f.read(200)
        except OSError:
            return "unknown"

    def __exit__(self, *exc) -> None:
        if self._fd is not None:
            os.close(self._fd)
            self._fd = None
        try:
            os.unlink(self.lock_path)
        except OSError:
            pass


def swap_commit(path: str, writer) -> None:
    """Replace the parquet table at `path` with what `writer` (a
    DataFrameWriter, partitioning included) writes: write a staging
    directory, move the live table aside to `.old-*`, rename staging
    into place, then delete the old copy. A crash between the two
    renames leaves the table only at its `.old-*` copy, which readers
    find through `swap_table`; when `path` is missing, the swap renames
    staging into place and then deletes the stray `.old-*` and
    `.staging-*` copies. Callers hold `LedgerLock(path)` across their
    read (through `swap_table`) and this swap."""
    stamp = int(time.time() * 1000)
    staging, old = f"{path}.staging-{stamp}", f"{path}.old-{stamp}"
    writer.mode("overwrite").parquet(staging)
    if os.path.exists(path):
        os.rename(path, old)
        os.rename(staging, path)
        shutil.rmtree(old, ignore_errors=True)
        return
    os.rename(staging, path)
    parent, name = os.path.split(os.path.abspath(path))
    for e in os.listdir(parent):
        if e.startswith((f"{name}.old-", f"{name}.staging-")):
            shutil.rmtree(os.path.join(parent, e), ignore_errors=True)


def swap_table(path: str) -> str | None:
    """The directory holding the swap table at `path`: `path` itself,
    else the newest `.old-<ms>` copy a crash inside `swap_commit` left
    (by number, not by name), else None (no commit yet). When `path`
    exists this costs one `exists` call."""
    if os.path.exists(path):
        return path
    parent, name = os.path.split(os.path.abspath(path))
    old = f"{name}.old-"
    try:
        entries = os.listdir(parent)
    except FileNotFoundError:
        return None
    stamps = [int(e[len(old) :]) for e in entries if e.startswith(old) and e[len(old) :].isdigit()]
    return f"{path}.old-{max(stamps)}" if stamps else None
