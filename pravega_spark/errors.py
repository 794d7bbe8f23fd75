"""Exceptions mirroring the reference client's error surface.

Reference: pravega client exceptions —
``client/src/main/java/io/pravega/client/stream/TruncatedDataException.java``,
``.../tables/BadKeyVersionException.java``,
``.../stream/TxnFailedException.java``, etc. Names kept close so a
reference user maps them 1:1; semantics re-expressed for a Spark/Parquet
data plane.
"""

from __future__ import annotations


class PravegaSparkError(Exception):
    """Base class for engine errors."""


class StreamNotFoundException(PravegaSparkError):
    """Stream (or scope) does not exist in the metadata store."""


class ScopeNotEmptyException(PravegaSparkError):
    """Scope delete refused: it still contains streams (pass
    recursive=True to remove them too)."""


class ScopeNotFoundException(PravegaSparkError):
    """Scope does not exist."""


class StreamSealedException(PravegaSparkError):
    """Write attempted on a sealed stream (reference: SealStreamTask)."""


class TruncatedDataException(PravegaSparkError):
    """Read positioned before the stream head (data truncated away).

    Reference: ``client/.../stream/TruncatedDataException.java`` raised by
    ``EventStreamReader.readNextEvent``.
    """


class TxnFailedException(PravegaSparkError):
    """Transaction commit/abort on a txn not in the required state.

    Reference: ``client/.../stream/TxnFailedException.java``.
    """


class BadKeyVersionException(PravegaSparkError):
    """KVT conditional update failed: expected version did not match.

    Reference: ``client/.../tables/BadKeyVersionException.java``.
    """


class NoSuchKeyException(PravegaSparkError):
    """KVT conditional update/removal of an absent key."""


class ConditionalCheckFailedException(PravegaSparkError):
    """Revisioned-stream CAS append lost the race.

    Reference: ``RevisionedStreamClient.writeConditionally`` returning
    null / ``ConditionalAppend`` wire failure (WireCommands.java:633).
    """


class InvalidStreamCutException(PravegaSparkError):
    """StreamCut does not cover the stream's key space or is out of range."""


class BadAttributeUpdateException(PravegaSparkError):
    """Conditional segment-attribute update failed its comparison.

    Reference: ``segmentstore/contracts/.../BadAttributeUpdateException``
    raised by ``StreamSegmentStore.updateAttributes`` when a
    ReplaceIfEquals comparison value does not match.
    """


class ConcurrentModificationException(PravegaSparkError):
    """Version-conditional metadata write observed a concurrent commit.

    Raised when a writer's cached document version no longer matches the
    stored one — e.g. a fenced-out lock holder whose lease expired
    mid-commit. The commit is abandoned (its staged files stay invisible
    and are fsck-reapable); the caller may retry from a fresh read.
    """


class SparkRequiredException(PravegaSparkError):
    """A KVT operation needs the SparkSession its table was opened
    without (``spark=None``): a DataFrame result, a scan or compaction
    whose log is above the driver-side bound, or an update batch above
    ``KVT_HOT_MAX_ROWS``. Below those bounds the table's Arrow twins
    (``snapshot_arrow`` and the like) and ``compact`` serve it without
    one."""
