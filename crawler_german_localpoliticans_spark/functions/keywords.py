"""Keyword whitelist gate (extraction trigger).

reference: src/main.rs:446-462 `matches_keywords`; configured keywords
worker_config.toml:28-35. Case-insensitive substring match of any trimmed,
non-empty keyword against the *full URL string*; an empty keyword list never
matches. The crawl passes `DEFAULT_KEYWORDS`; the reference's SAVE_ALL_HTML
override (src/main.rs:615-617,824) is not modeled.

On the Spark side this is a pure Column expression (no UDF): see
functions/udfs.py `keyword_hit_col`.
"""

from __future__ import annotations

DEFAULT_KEYWORDS = (
    "Gemeinderat",
    "Stadtrat",
    "Bürgermeister",
    "Rathaus",
    "Landrat",
    "Politik",
)  # worker_config.toml:28-35


def ascii_lower(s: str) -> str:
    """ASCII-only lowercase, matching Rust's `to_ascii_lowercase`
    (src/main.rs:450,459): non-ASCII characters (ü, Ü, ß, …) are untouched."""
    return "".join(chr(ord(c) + 32) if "A" <= c <= "Z" else c for c in s)


def effective_keywords(keywords: list[str] | tuple[str, ...]) -> list[str]:
    """Trimmed, ascii-lowercased, non-empty needles (src/main.rs:452-460)."""
    out = []
    for k in keywords:
        k = k.strip()
        if k:
            out.append(ascii_lower(k))
    return out


def matches_keywords(url: str, keywords: list[str] | tuple[str, ...]) -> bool:
    needles = effective_keywords(keywords)
    if not needles:
        return False
    hay = ascii_lower(url)
    return any(n in hay for n in needles)
