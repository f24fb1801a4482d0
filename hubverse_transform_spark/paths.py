"""File-name parsing, URI sanitization, and object-store key routing (Layer A).

Driver-side path logic: these operate on per-file scalars (one submission file
per event), not on data, so they are plain Python feeding the distributed
readers — exactly the split the reference makes (ref: model_output.py:136-261).

:func:`submission_name` is the one rule for whether a file is a submission
and what its ``round_id``/``model_id`` are: the per-file pipeline, the bulk
backfill and the submission catalog all ask it.
"""

from __future__ import annotations

import posixpath
import re
from dataclasses import dataclass
from urllib.parse import quote

_ROUND_ID_RE = re.compile(r"^\d{4}-\d{2}-\d{2}")

CSV_EXTENSIONS = (".csv",)
PARQUET_EXTENSIONS = (".parquet", ".pqt")
SUPPORTED_EXTENSIONS = CSV_EXTENSIONS + PARQUET_EXTENSIONS


def parse_file(file_name: str) -> dict[str, str]:
    """Parse a model-output file name (no extension) into round_id + model_id.

    Semantics match ref model_output.py:236-261: the name must start with a
    YYYY-MM-DD round_id; the model_id is everything after the round_id and any
    run of ``-``/``_`` separators, whitespace-stripped; missing either part
    raises ValueError.
    """
    m = _ROUND_ID_RE.match(file_name)
    if not m:
        raise ValueError(f"Unable to get YYYY-MM-DD round_id from file name {file_name}.")
    round_id = m.group(0)

    parts = re.split(rf"{round_id}[-_]*", file_name)
    if not parts or len(parts) <= 1 or not parts[-1]:
        raise ValueError(f"Unable to get model_id from file name {file_name}.")
    return {"round_id": round_id, "model_id": parts[-1].strip()}


def file_stem(path: str) -> str:
    """File name without directory or final extension."""
    base = posixpath.basename(path)
    stem, _, _ = base.rpartition(".")
    return stem if stem else base


def file_suffix(path: str) -> str:
    """Final extension including the dot, '' if none."""
    base = posixpath.basename(path)
    stem, dot, ext = base.rpartition(".")
    return f".{ext}" if stem else ""


def sanitize_uri(path: str, safe: str = ":/") -> str:
    """Strip whitespace around the path and file stem, then percent-encode.

    Matches ref model_output.py:223-234: the stem's surrounding whitespace is
    removed (first occurrence replaced, as in the reference), the whole string
    is stripped, and the result is percent-encoded with ``safe=":/"``.
    """
    stem = file_stem(path)
    cleaned = path.replace(stem, stem.strip(), 1) if stem else path
    return quote(cleaned.strip(), safe=safe)


@dataclass(frozen=True)
class S3Route:
    """Resolved source/destination for one S3 object event."""

    hub_path: str       # s3://bucket
    mo_path: str        # key within bucket (the submitted file)
    output_path: str    # s3://bucket/<key minus origin_prefix minus filename>


def route_s3_key(
    bucket: str, key: str, origin_prefix: str = "raw", scheme: str = "s3"
) -> S3Route:
    """Validate + route an S3 object key to its transform destination.

    Matches ref model_output.py:136-189 (``from_s3``): the key must start with
    ``origin_prefix`` (ValueError otherwise); the destination directory is the
    key minus the prefix and minus the file name (``raw/a/b/f.csv`` -> ``a/b``;
    bare ``raw/f.csv`` -> ``"."``).

    ``scheme`` defaults to the reference's observable ``s3://`` URIs; pass
    ``"s3a"`` when the URIs will be consumed by Spark/Hadoop (the s3a
    connector is the only S3 binding Hadoop configures by default).
    """
    if not key.startswith(f"{origin_prefix}/"):
        raise ValueError(f"S3 key {key} does not begin with {origin_prefix}/")
    relative = key.removeprefix(f"{origin_prefix}/")
    dest_dir = posixpath.dirname(relative) or "."
    return S3Route(
        hub_path=f"{scheme}://{bucket}",
        mo_path=key,
        output_path=f"{scheme}://{bucket}/{dest_dir}",
    )


def validate_extension(path: str) -> None:
    """Raise UserWarning for extensionless or unsupported inputs.

    Matches the reference's quarantine channel (ref model_output.py:112-122,
    212-221): invalid *inputs* are a warning (the event consumer swallows it
    and moves on), never a hard failure.
    """
    suffix = file_suffix(path)
    if not suffix:
        raise UserWarning("Input file has no extension")
    if suffix not in SUPPORTED_EXTENSIONS:
        raise UserWarning(f"Input file type {suffix} is not supported")


def submission_name(path: str) -> tuple[str, str, str]:
    """``(file_name, round_id, model_id)`` of an unencoded ``path``, its base
    name sanitized as the pipeline sanitizes its input URI: UserWarning for an
    unsupported extension, ValueError for a name ``parse_file`` rejects."""
    name = sanitize_uri(posixpath.basename(path))
    validate_extension(name)
    parts = parse_file(file_stem(name))
    return file_stem(name), parts["round_id"], parts["model_id"]
