"""Hadoop FileSystem wrapper for driver-side path operations.

Every path manipulation in the engine (sink swaps, metadata files,
index probes, compaction) goes through this class instead of
driver-local ``os``/``shutil``/``glob`` — those silently no-op or fail
on non-local schemes (s3a://, hdfs://, abfs://), which is exactly
where a 100 TB table lives. The JVM-side FileSystem resolves the
scheme from the path, so the same code runs on any Spark-supported
filesystem.

The JVM classes (``Path``, ``FileUtil``, ``IOUtils``) are looked up
once per py4j gateway and kept. Resolving a dotted name through
``spark._jvm`` sends one reflection command per package segment, so a
fresh ``org.apache.hadoop.fs.Path(p)`` costs six driver round trips,
and a streaming epoch commit builds a few hundred of them. A kept
class costs one command per constructor call.
"""

from __future__ import annotations

import contextlib
import json
import os
import socket
import time
import weakref
from types import SimpleNamespace

from pyspark.sql import SparkSession

# gateway client -> its resolved JVM classes; weak so a torn-down
# gateway does not pin its proxies
_JVM_CLASSES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _jvm_classes(jvm) -> SimpleNamespace:
    client = jvm._gateway_client
    classes = _JVM_CLASSES.get(client)
    if classes is None:
        classes = SimpleNamespace(
            Path=jvm.org.apache.hadoop.fs.Path,
            FileUtil=jvm.org.apache.hadoop.fs.FileUtil,
            IOUtils=jvm.org.apache.commons.io.IOUtils,
        )
        _JVM_CLASSES[client] = classes
    return classes


class Fs:
    def __init__(self, spark: SparkSession, path: str):
        self._spark = spark
        self._jvm = _jvm_classes(spark._jvm)
        self._p = self._jvm.Path(path)
        self._conf = spark._jsc.hadoopConfiguration()
        self.fs = self._p.getFileSystem(self._conf)

    def path(self, p: str):
        return self._jvm.Path(p)

    def glob(self, pattern: str) -> list[str]:
        statuses = self.fs.globStatus(self.path(pattern))
        if statuses is None:
            return []
        return sorted(str(s.getPath()) for s in statuses)

    def glob_stats(self, pattern: str) -> list[tuple[str, int, int]]:
        """(path, length, modification_time_ms) per match, path-sorted."""
        statuses = self.fs.globStatus(self.path(pattern))
        if statuses is None:
            return []
        return sorted(
            (str(s.getPath()), s.getLen(), s.getModificationTime())
            for s in statuses
        )

    @classmethod
    def du(cls, spark: SparkSession, path: str) -> int | None:
        """Bytes of the data files at or under ``path`` — files and
        directories whose name starts with ``.`` or ``_`` below it are
        skipped, as Spark's file listing skips them. ``None`` when the
        size is unknown: the path does not exist or its filesystem
        cannot be reached from here (no FileSystem for the scheme,
        missing credentials). Callers sizing work from input bytes
        treat ``None`` as "large", never as empty."""
        from py4j.protocol import Py4JJavaError

        try:
            fs = cls(spark, path)
            root = fs.fs.makeQualified(fs._p)
            if not fs.fs.exists(root):
                return None
            prefix = len(str(root).rstrip("/")) + 1
            it = fs.fs.listFiles(root, True)
            total = 0
            while it.hasNext():
                st = it.next()
                rel = str(st.getPath())[prefix:]
                if not any(part.startswith((".", "_")) for part in rel.split("/")):
                    total += st.getLen()
            return total
        except Py4JJavaError:  # no FileSystem for the scheme, access denied
            return None

    def delete(self, p: str, recursive: bool = False) -> None:
        self.fs.delete(self.path(p), recursive)

    def mkdirs(self, p: str) -> None:
        self.fs.mkdirs(self.path(p))

    def rename(self, src: str, dst: str) -> bool:
        """Hadoop rename returns False instead of raising (dst exists,
        object-store quirks) — callers doing swap protocols MUST check
        it; a discarded False can silently strand or lose files."""
        return bool(self.fs.rename(self.path(src), self.path(dst)))

    def exists(self, p: str) -> bool:
        return self.fs.exists(self.path(p))

    def is_dir(self, p: str) -> bool:
        jp = self.path(p)
        return self.fs.exists(jp) and self.fs.getFileStatus(jp).isDirectory()

    def copy(self, src: str, dst: str) -> None:
        """Recursive copy (file or directory), same or cross filesystem."""
        src_p, dst_p = self.path(src), self.path(dst)
        src_fs = src_p.getFileSystem(self._conf)
        dst_fs = dst_p.getFileSystem(self._conf)
        self._jvm.FileUtil.copy(
            src_fs, src_p, dst_fs, dst_p, False, True, self._conf
        )

    def _local_file(self, p: str) -> "str | None":
        """The driver-local path of ``p`` when it lives on the ``file:``
        filesystem, else ``None``."""
        jp = self.path(p)
        fs = jp.getFileSystem(self._conf)
        if fs.getScheme() != "file":
            return None
        return str(fs.makeQualified(jp).toUri().getPath())

    def create_atomic(self, p: str, text: str) -> bool:
        """Create-if-absent: returns False when the file already exists
        — the primitive under lock sentinels. On ``file:`` paths it is
        an ``O_CREAT|O_EXCL`` open on the driver: Hadoop's local
        ``create(overwrite=False)`` checks ``exists`` and then opens,
        so two racing callers can both win. Atomic on HDFS too; object
        stores without conditional create degrade to best-effort, which
        still catches every non-racing double-invocation."""
        local = self._local_file(p)
        if local is not None:
            # missing parents are created, as Hadoop's create does; a
            # parent that is a file raises here, not as "lock held"
            os.makedirs(os.path.dirname(local), exist_ok=True)
            try:
                fd = os.open(local, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
            except FileExistsError:
                return False
            with os.fdopen(fd, "wb") as out:
                out.write(text.encode("utf-8"))
            return True
        try:
            out = self.fs.create(self.path(p), False)
        except Exception as e:
            # Only the lost-the-race outcome maps to False: the file
            # exists, someone holds it. Any other failure (permissions,
            # transient FS error) must propagate — reporting it as
            # "another operation holds the lock" sends the operator
            # chasing a sentinel that doesn't exist (ADVICE r6).
            # Classify by the JAVA exception type, not an exists()
            # re-probe: a holder releasing between the failed create
            # and the probe would turn "lost the race" (retryable)
            # into a raised error under a live poll loop.
            jexc = getattr(e, "java_exception", None)
            cls = jexc.getClass().getName() if jexc is not None else ""
            msg = (jexc.getMessage() or "") if jexc is not None else ""
            # ADVICE r9: classify by exception CLASS, not a message
            # substring — "already exists" appearing anywhere in an
            # unrelated failure's message must not be read as "lock
            # held" (that misreport sends the epoch poll loop into a
            # full-timeout wait). The one message check kept is for
            # Hadoop builds that raise a bare IOException — anchored
            # to Hadoop's exact create-failure phrasing at the START
            # of the message.
            already = jexc is not None and (
                "AlreadyExists" in cls.rsplit(".", 1)[-1]
                or cls.endswith(".PathExistsException")
                or (
                    cls == "java.io.IOException"
                    and msg.startswith("File already exists")
                )
            )
            if already:
                # Hadoop raises the SAME exception class when a PARENT
                # component is a file ("destination exists and is not a
                # directory") — that is a real misconfiguration, not a
                # lost race; only that sub-case propagates.
                parent = p.rstrip("/").rsplit("/", 1)[0]
                parent_is_file = self.exists(parent) and not self.is_dir(
                    parent
                )
                if not parent_is_file:
                    return False
            elif self.exists(p):
                return False
            raise
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        return True

    def write_text(self, p: str, text: str) -> None:
        out = self.fs.create(self.path(p), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, p: str) -> str:
        stm = self.fs.open(self.path(p))
        try:
            return str(
                self._jvm.IOUtils.toString(stm, "UTF-8")
            )
        finally:
            stm.close()


def try_break_dead_lock(fs: Fs, lock: str) -> bool:
    """Break a lock sentinel whose holder is PROVABLY dead; return
    True if the sentinel was removed.

    This is deliberately NOT auto-expiry (a lease that times out can't
    protect a stalled-but-alive job — the design stance in
    ``SaltedTable._lifecycle_lock``): the only evidence accepted is a
    same-host holder whose recorded pid no longer exists
    (``os.kill(pid, 0)`` -> ProcessLookupError). Everything else —
    foreign host, alive pid, permission-denied probe, old-format
    holder without a host field, unreadable sentinel — leaves the lock
    alone and the caller on its existing wait-or-raise path. On a
    multi-host cluster a dead remote driver still needs the documented
    manual delete; this closes the common case, a restarted driver on
    the same machine replaying into its own predecessor's lock.

    Takeover is serialized through a BREAK-CLAIM sentinel
    (``<lock>.break``, created via the same atomic create-if-absent):
    a plain re-read-then-delete lets two same-host breakers both prove
    the holder dead, after which the slower one's delete removes the
    FASTER one's freshly acquired sentinel and two mutators hold the
    exclusive lock at once. With the claim, exactly one breaker may
    touch the lock: while the claim exists no other (claim-aware)
    process deletes the sentinel, so the claim holder's re-read →
    delete window is single-writer. A new holder can't slip in either
    — holders only create when the lock file is ABSENT, and the lock
    stays present until the claim holder deletes it. After the delete
    the caller must still go back through ``create_atomic`` (one
    winner) rather than assume ownership.

    A claim left behind by a crashed breaker is deliberately NOT
    auto-reclaimed: every reclaim protocol we examined (delete+create,
    rename-to-unique, rename+content-verify+rename-back) re-opens a
    double-break window one level down — a racing cleaner can grab a
    LIVE breaker's freshly created claim, or a third breaker can slip
    a create between a mismatch-detecting rename-back pair. The claim
    critical section spans three metadata calls (~milliseconds), so a
    breaker dying inside it is rarer by orders of magnitude than the
    verb crash the takeover exists for; that residue takes the
    documented manual path (verify the claim's recorded holder is
    dead, delete ``<lock>.break``, retry) — the caller's error
    message names the file."""

    def _read_holder(p):
        try:
            txt = fs.read_text(p)
            h = json.loads(txt)
            return txt, int(h["pid"]), h["host"]
        except Exception:
            return None  # unreadable/old-format: require the manual path

    def _provably_dead(pid, host):
        if host != socket.gethostname() or pid == os.getpid():
            return False
        try:
            os.kill(pid, 0)
            return False  # alive
        except ProcessLookupError:
            return True  # provably dead on this host
        except Exception:
            return False  # permission denied etc.: can't prove death

    holder = _read_holder(lock)
    if holder is None or not _provably_dead(holder[1], holder[2]):
        return False
    claim = lock + ".break"
    me = json.dumps({"pid": os.getpid(), "host": socket.gethostname()})
    # create_atomic classifies lost-the-race (False) apart from real
    # FS failures (raise) — let the latter PROPAGATE (ADVICE r6/r9:
    # mapping a permission/store error to "holder alive" sends the
    # epoch poll loop into a full-timeout wait chasing a breakable
    # lock). False covers both an in-flight takeover and a crashed
    # breaker's stale claim; the stale case is the documented manual
    # path (see docstring), not an auto-reclaim.
    if not fs.create_atomic(claim, me):
        return False
    try:
        if fs.read_text(lock) != holder[0]:
            # the dead sentinel was replaced (by a pre-claim-protocol
            # breaker + new holder) before we acquired the claim
            return False
        fs.delete(lock)
        return True
    except Exception:
        return False
    finally:
        try:
            fs.delete(claim)
        except Exception:
            pass


@contextlib.contextmanager
def held_lock(
    fs: Fs, lock: str, verb: str, wait_s: float, refusal, poll_s: float = 0.2
):
    """Hold the lock sentinel ``lock`` for the body: create it if absent
    (recording ``verb``, pid and host), and delete it on the way out.

    A sentinel left by a provably dead holder is broken
    (:func:`try_break_dead_lock`) and the create is raced again. Any
    other holder keeps the lock: the caller polls every ``poll_s``
    seconds for up to ``wait_s`` (0 fails at once), then gets a
    ``RuntimeError`` whose message is ``refusal(holder_text)``, plus a
    note when a takeover claim ``<lock>.break`` is also left behind."""
    holder = json.dumps(
        {"verb": verb, "pid": os.getpid(), "host": socket.gethostname()}
    )
    deadline = time.monotonic() + wait_s
    while not fs.create_atomic(lock, holder):
        if try_break_dead_lock(fs, lock):
            continue
        if time.monotonic() >= deadline:
            try:
                who = fs.read_text(lock)
            except Exception:
                who = "<unreadable>"
            claim_note = (
                f"; a takeover claim also exists at {lock}.break — if "
                f"ITS recorded holder is dead too, delete the claim first"
                if fs.exists(lock + ".break")
                else ""
            )
            raise RuntimeError(refusal(who) + claim_note)
        time.sleep(poll_s)
    try:
        yield
    finally:
        fs.delete(lock)
