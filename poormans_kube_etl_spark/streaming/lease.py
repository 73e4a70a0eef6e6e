"""Filesystem mutual-exclusion lease: one marker file on any
Hadoop-visible filesystem, the single coordination primitive between
replicas (the reference runs ``replicas: 3`` with no coordination at
all, reference README.md:73). Two users:

- the folder claim (``Orchestrator.claim_folder``, r8): one lease per
  pending folder, ``pending/<ts>/_CLAIMED``, so concurrent pollers
  ingest disjoint folders;
- the maintenance lease (r12, VERDICT r11 #1): one per index root,
  ``dedup_index/_MAINT_LEASE``. Replicas finalizing DIFFERENT ingests
  land in the SAME family tables — concurrent append-merges, property
  restamps (the composed-fingerprint read-modify-write in
  ``operators/index_maintenance.merge_delta``) and manifest tmp+rename
  refreshes need mutual exclusion, or a lost property update silently
  corrupts the composed deep fingerprint and interleaved manifest
  refreshes persist a stale snapshot.

Acquisition writes a per-owner tmp file (``<lease>.<owner>.tmp``),
RENAMES it onto the lease path, then READS the content BACK (twice,
with a ``settle_s`` pause between). POSIX rename REPLACES an existing
destination (HDFS's no-overwrite rename is the exception, not the
rule), so rename success does not prove ownership — the marker CONTENT
is the single source of truth. The read-back arbitration is
probabilistic, not exact (ADVICE r08): if A renames and reads its own
id back before B's replacing rename lands, both see themselves as
owner in the first probe. The settle pause plus the second probe
shrinks that window to near-simultaneous renames; what remains is
self-healed by the next renewal, where the loser reads the winner's id
and yields before its protected work. On s3a, rename is copy+delete —
the read-back closes most of that window too.

Staleness is the FILESYSTEM mtime vs ``ttl_s``, not the marker body:
no clock parsing, and an S3 PUT's server-side timestamp is within TTL
granularity of the driver clock. A stale lease (its holder crashed) is
deleted by the breaker and the rename+readback arbitrates among
breakers. Renewal re-arbitrates (r13): it reads the marker back and
refuses to write when a peer owns it, so a holder that stalled past
``ttl_s`` LOSES instead of stamping its id over the new owner's; then
it replaces the marker via the same tmp+rename, falling back to an
in-place overwrite on stores whose rename refuses an existing
destination (HDFS) — delete+create underneath, a brief no-file window
a probing peer can read as stale; the content readback after every
write arbitrates whoever lands last, exactly as in acquisition. Any
filesystem error reads as lease-lost, never as ownership.

The residual window (near-simultaneous renames, or s3a's non-atomic
rename) is bounded per user: a double-claimed folder runs idempotent
overwrite sinks, and a loser that dies mid-run is absorbed by the
vanished-folder transient path; inside the maintenance lease the
merges are append-shaped (duplicate fragments cost join fan-out until
compaction, never correctness) and the property stamps are the one
true casualty — the lease reduces the probability of concurrent
stamping from "every concurrent finalize" to "near-simultaneous rename
during an expired-TTL break".
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from poormans_kube_etl_spark.sources import ingest as ingest_sources


class FsLease:
    """A named exclusive lease backed by one marker file on any
    Hadoop-visible filesystem.

    ``owner_id`` must be stable and unique per contender (the
    orchestrator passes its ``replica_id``). A holder that dies without
    releasing is broken by peers after ``ttl_s`` — size it to the
    worst-case duration of the protected section BETWEEN renewals, not
    of the whole section (the orchestrator renews after every family
    merge)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        owner_id: str,
        ttl_s: float = 1800.0,
        settle_s: float = 0.05,
    ):
        self.spark = spark
        self.path = path
        self.owner_id = owner_id
        self.ttl_s = ttl_s
        self.settle_s = settle_s

    # ---- probes ----

    def owns(self) -> bool:
        """Content arbitration: the lease file holds the owner's id."""
        try:
            return (
                ingest_sources.read_small_text(self.spark, self.path)
                == self.owner_id
            )
        except Exception:
            return False  # vanished/unreadable mid-probe: not ours

    def is_stale(self) -> bool:
        """No live lease: none at all, or mtime older than ttl_s (the
        holder crashed mid-section — release, or finalize for a folder
        claim, deletes the file, so a long-lived marker is an orphan)."""
        fs, jp = ingest_sources.hadoop_fs(self.spark, self.path)
        if not fs.exists(jp):
            return True
        age_ms = time.time() * 1000 - fs.getFileStatus(jp).getModificationTime()
        return age_ms > self.ttl_s * 1000

    # ---- lifecycle ----

    def _write_tmp(self):
        """Write the owner's id to its per-owner tmp file; returns the
        tmp's Hadoop Path, ready to rename onto the lease path."""
        key = f"{self.path}.{self.owner_id}.tmp"
        ingest_sources.write_small_text(self.spark, key, self.owner_id)
        return ingest_sources.hadoop_fs(self.spark, key)[1]

    def try_acquire(self) -> bool:
        """One acquisition attempt; True means this owner holds the
        lease. Any FS error reads as lease-lost, never as ownership."""
        try:
            fs, dst = ingest_sources.hadoop_fs(self.spark, self.path)
            if fs.exists(dst):
                if self.owns():
                    return self.renew()  # re-entry refreshes the mtime
                if not self.is_stale():
                    return False
                fs.delete(dst, False)  # break the orphan; readback arbitrates
            tmp = self._write_tmp()
            if not bool(fs.rename(tmp, dst)):
                fs.delete(tmp, False)  # lost outright: clean up our tmp
                return False
            if not self.owns():  # content arbitrates racers
                return False
            if self.settle_s > 0:
                time.sleep(self.settle_s)  # let a racing rename land
                return self.owns()
            return True
        except Exception as e:
            print(f"lease: acquire on {self.path} failed ({e}); treating as lost")
            return False

    def acquire(self, timeout_s: float, poll_s: float = 0.1) -> None:
        """Block until the lease is held or ``timeout_s`` elapses.
        Raises TimeoutError — callers decide whether that is fatal (the
        orchestrator treats it as the X7 halt class: the ingest is
        already committed, and the durable per-ingest markers let a
        relaunch resume maintenance exactly where it stopped)."""
        deadline = time.monotonic() + timeout_s
        while True:
            if self.try_acquire():
                return
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"lease {self.path}: not acquired within {timeout_s}s "
                    f"(held by a peer that is still alive, or renewing "
                    f"faster than ttl_s={self.ttl_s})"
                )
            time.sleep(poll_s)

    def renew(self) -> bool:
        """Refresh the lease mtime, RE-ARBITRATING first (r13, VERDICT
        r12 #1): read the marker and return False WITHOUT writing when
        its content is not ``owner_id``. A holder that stalled past
        ``ttl_s`` mid-section gets its lease legitimately broken by a
        peer — the stalled holder's next renew must LOSE, not stamp its
        own id back over the new owner's marker (the blind overwrite
        re-opened exactly the concurrent-maintenance scenario the lease
        exists to prevent, for the whole remaining pass). The residual
        TOCTOU is one read→write gap, the same order as try_acquire's
        settle window, not "whole remaining pass".

        The write itself renames a per-owner tmp file onto the lease
        path (try_acquire's mechanics; ADVICE r12): rename replaces the
        destination on POSIX-semantics stores, so there is no moment
        without a lease file. On HDFS, rename refuses an existing
        destination — there we fall back to create-with-overwrite,
        which IS delete+create under the hood: a peer probing inside
        that window sees no lease file and may acquire. That window is
        documented honestly alongside the s3a non-atomic-rename one
        (module docstring): both collapse to the near-simultaneous-
        rename residual, arbitrated by the content readback below."""
        try:
            if not self.owns():
                return False  # broken by a peer: lose, don't steal back
            fs, dst = ingest_sources.hadoop_fs(self.spark, self.path)
            tmp = self._write_tmp()
            if not bool(fs.rename(tmp, dst)):
                # HDFS-class store: rename won't replace. Overwrite in
                # place (brief delete window, see docstring) and drop
                # the tmp either way.
                fs.delete(tmp, False)
                ingest_sources.write_small_text(self.spark, self.path, self.owner_id)
            return self.owns()  # readback arbitrates the write race
        except Exception as e:
            print(f"lease: renew of {self.path} failed ({e})")
            return False

    def release(self) -> None:
        """Delete the lease file if still owned. Best-effort: a failed
        release is recovered by peers via the TTL."""
        try:
            if self.owns():
                fs, dst = ingest_sources.hadoop_fs(self.spark, self.path)
                fs.delete(dst, False)
        except Exception as e:
            print(f"lease: release of {self.path} failed ({e}); ttl_s expires it")
