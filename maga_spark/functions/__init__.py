"""Column-expression building blocks (all JVM-side, whole-stage-codegen'd)."""

from maga_spark.functions.scalar import (  # noqa: F401
    URL_RE,
    be_u16,
    canonical_hex,
    coalesce_implied_port,
    inet_ntoa,
    token_of,
    url_canonicalize,
    url_parts,
    xor_dist,
)
