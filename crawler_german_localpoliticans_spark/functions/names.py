"""Person-name keys of the council-member records.

reference: python_container/db_writer.py:556-565 (normalize_name),
:625 (unique_key) and validation/validation.py:153-158 (slugify).
"""

from __future__ import annotations

import re

_TITLE_RE = re.compile(r"^(Dr\.|Prof\.)\s*", re.IGNORECASE)
_NAME_KEEP_RE = re.compile(r"[^a-z-]")
_SLUG_RE = re.compile(r"[^a-z0-9]+")

_UMLAUTS = (("ä", "ae"), ("ö", "oe"), ("ü", "ue"), ("ß", "ss"), (" ", "-"))


def normalize_name(name: str | None) -> str:
    """db_writer.py:556-565: strip Dr./Prof. title, lowercase, transliterate
    umlauts, spaces -> '-', drop everything outside [a-z-]."""
    if not name:
        return ""
    name = _TITLE_RE.sub("", name)
    name = name.lower()
    for old, new in _UMLAUTS:
        name = name.replace(old, new)
    return _NAME_KEEP_RE.sub("", name)


def unique_key(municipality: str, full_name: str) -> str:
    """db_writer.py:625."""
    return f"{municipality.lower()}-{normalize_name(full_name)}"


def slugify(value: str) -> str:
    """validation/validation.py:153-158."""
    value = value.lower()
    for old, new in _UMLAUTS[:4]:
        value = value.replace(old, new)
    return _SLUG_RE.sub("-", value).strip("-")
