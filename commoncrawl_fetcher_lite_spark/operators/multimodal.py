"""Multimodal column operator: opaque binary media + typed metadata.

Media spans (the `media_ref`/binary payloads the extraction pipeline emits)
are treated as opaque `binary` columns. `classify_media` is the cheap
metadata pass over them — size, sha256 and a magic-byte kind — in pure
Catalyst, so the payload bytes never leave the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def classify_media(df: DataFrame, bytes_col: str = "payload", id_col: str = "media_id") -> DataFrame:
    """Cheap metadata pass: size, sha256, magic-byte kind. Pure Catalyst
    except the magic lookup (a substring CASE — still JVM-side).

    Video: ISO-BMFF (mp4/mov) starts with a 4-byte box size then 'ftyp' at
    offset 4; Matroska/WebM starts with the EBML magic 1A 45 DF A3."""
    b = F.col(bytes_col)
    head = F.substring(b, 1, 4)
    kind = (
        F.when(F.substring(b, 1, 3) == bytes(b"\xff\xd8\xff"), "image")
        .when(head == bytes(b"\x89PNG"), "image")
        .when(F.substring(b, 1, 3) == bytes(b"ID3"), "audio")
        .when(F.substring(b, 5, 4) == bytes(b"ftyp"), "video")
        .when(head == bytes(b"\x1a\x45\xdf\xa3"), "video")
        .otherwise("other")
    )
    return df.select(
        F.col(id_col).alias("media_id"),
        F.length(b).cast("long").alias("n_bytes"),
        F.lower(F.sha2(b, 256)).alias("sha256"),
        kind.alias("kind"),
    )
