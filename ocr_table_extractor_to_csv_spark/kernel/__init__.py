"""Per-document geometry kernel (numpy only; no Spark imports).

Each module reimplements, from its observable behavior, one slice of the
reference extractor's document algebra (citations are ``file:line`` into
``/root/reference/src/hocr_table_extractor``).  The kernel is pure: bytes in,
deterministic result out — which is what makes the Spark wrapper trivially
retry-safe and distribution-independent.
"""

from .extract import extract_document  # noqa: F401
