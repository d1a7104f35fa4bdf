"""Write-lifecycle observability — counterpart of the reference's storage
transport extensions.

The reference registers two callback classes with its bulk writer:

* ``LocalStorageTransportExtension`` (``LocalStorageTransportExtension.scala:
  11-100``) — logs object-persisted / stage-succeeded / import-succeeded /
  job-succeeded events with elapsed millis for the S3-staged write path.
* ``LocalCoordinatedStorageTransportExtension`` (``LocalCoordinated...scala:
  40-50``) — fires coordination signals when all objects are staged
  (``onStageReady``) and when a cluster finished staging (``onImportReady``),
  enabling an all-or-nothing import into two clusters.

Spark-first equivalent: a small event bus the two-phase writer drives, plus
(optionally) per-job `_SUCCESS`-marker semantics which Spark's parquet
committer already provides. No Catalyst involvement — pure control plane.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field

log = logging.getLogger(__name__)


@dataclass
class TransportEvent:
    kind: str
    detail: str
    elapsed_ms: float


class StorageTransportListener:
    """Logging lifecycle listener (≙ LocalStorageTransportExtension).

    The staged writer calls these hooks; every call is recorded so tests can
    assert the sequence, mirroring the reference's log-based observability.
    """

    def __init__(self) -> None:
        self.events: list[TransportEvent] = []
        self._t0 = time.monotonic()

    def _emit(self, kind: str, detail: str = "") -> None:
        ev = TransportEvent(kind, detail, (time.monotonic() - self._t0) * 1000)
        self.events.append(ev)
        log.info("transport %s %s (%.1f ms)", kind, detail, ev.elapsed_ms)

    # staged-write lifecycle (names follow the reference's overrides)
    def on_transport_start(self) -> None:
        self._emit("transport_start")

    def on_object_persisted(self, bucket: str, key: str, size: int) -> None:
        self._emit("object_persisted", f"{bucket}/{key} ({size} B)")

    def on_all_objects_persisted(self, n_objects: int, n_rows: int) -> None:
        self._emit("all_objects_persisted", f"objects={n_objects} rows={n_rows}")

    def on_object_applied(self, bucket: str, key: str, size: int) -> None:
        self._emit("object_applied", f"{bucket}/{key} ({size} B)")

    def on_stage_succeeded(self, cluster: str) -> None:
        self._emit("stage_succeeded", cluster)

    def on_stage_failed(self, cluster: str, cause: str) -> None:
        self._emit("stage_failed", f"{cluster}: {cause}")

    def on_import_succeeded(self, cluster: str) -> None:
        self._emit("import_succeeded", cluster)

    def on_import_failed(self, cluster: str, cause: str) -> None:
        self._emit("import_failed", f"{cluster}: {cause}")

    def on_job_succeeded(self, elapsed_ms: float) -> None:
        self._emit("job_succeeded", f"{elapsed_ms:.1f} ms")

    def on_job_failed(self, elapsed_ms: float, cause: str) -> None:
        self._emit("job_failed", f"{elapsed_ms:.1f} ms: {cause}")


@dataclass
class CoordinationSignals:
    """Barrier signals for the coordinated two-target write
    (≙ CoordinationSignalListener wiring, LocalCoordinated...scala:44-50)."""

    stage_ready: list[str] = field(default_factory=list)
    import_ready: list[str] = field(default_factory=list)


class CoordinatedStorageTransportListener(StorageTransportListener):
    """Coordinated variant: staging completion across N targets gates the
    import phase (all-or-nothing)."""

    def __init__(self, clusters: list[str]) -> None:
        super().__init__()
        self.clusters = list(clusters)
        self.signals = CoordinationSignals()
        self._staged: set[str] = set()

    def on_all_objects_persisted(self, n_objects: int, n_rows: int) -> None:
        super().on_all_objects_persisted(n_objects, n_rows)
        self.signals.stage_ready.append(f"objects={n_objects}")

    def on_stage_succeeded(self, cluster: str) -> None:
        super().on_stage_succeeded(cluster)
        self._staged.add(cluster)
        if self._staged >= set(self.clusters):
            self.signals.import_ready.append(",".join(sorted(self._staged)))

    @property
    def all_staged(self) -> bool:
        return self._staged >= set(self.clusters)
