"""Job configuration — counterpart of the reference's ``JobConfiguration``
(``SparkUtils.scala:120-132``): a pair of reader/writer option maps with
derived row-count / parallelism accessors, plus the transport enum
(``SparkUtils.scala:134-140``).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field


class DataTransport(enum.Enum):
    """Write-transport selection (reference: sealed trait DataTransport,
    ``SparkUtils.scala:134-140``). DIRECT streams files straight to the sink;
    S3_COMPAT stages to object storage then imports (two-phase)."""

    DIRECT = "DIRECT"
    S3_COMPAT = "S3_COMPAT"


DEFAULT_ROW_COUNT = 10_000  # reference default, SparkUtils.scala:121


@dataclass
class JobConfiguration:
    """Reader + writer option maps driving a pipeline run.

    Mirrors ``JobConfiguration(writeOptions, readOptions)`` with the
    derived accessors the jobs use: ``row_count`` (default 10 000) and
    ``splits`` (default = parallelism).
    """

    write_options: dict[str, str] = field(default_factory=dict)
    read_options: dict[str, str] = field(default_factory=dict)

    @property
    def row_count(self) -> int:
        return int(self.write_options.get("rows", DEFAULT_ROW_COUNT))

    def splits(self, default_parallelism: int) -> int:
        return int(self.write_options.get("splits", default_parallelism))
