"""Parity tests for name keys and the keyword gate
(reference: python_container/db_writer.py:556-625, src/main.rs:446-462,
validation/validation.py:153-158)."""

from __future__ import annotations

import pytest

from crawler_german_localpoliticans_spark.functions.keywords import (
    DEFAULT_KEYWORDS,
    matches_keywords,
)
from crawler_german_localpoliticans_spark.functions.names import (
    normalize_name,
    slugify,
    unique_key,
)


@pytest.mark.parametrize(
    "name,expected",
    [
        ("Dr. Hans Müller", "hans-mueller"),
        ("Prof. Käthe Groß", "kaethe-gross"),
        ("dr.Hans", "hans"),  # regex needs \s* (zero spaces ok), case-insensitive
        ("Jörg Bäcker", "joerg-baecker"),
        ("Anna-Lena Schmidt", "anna-lena-schmidt"),
        ("Hans (CDU)", "hans-cdu"),  # parens dropped, space -> '-'
        ("", ""),
        (None, ""),
    ],
)
def test_normalize_name(name, expected):
    assert normalize_name(name) == expected


def test_unique_key():
    assert unique_key("München", "Dr. Hans Müller") == "münchen-hans-mueller"
    # note: municipality is .lower()'d but NOT transliterated (db_writer.py:625)


def test_slugify():
    assert slugify("Bad Königshofen i. Grabfeld") == "bad-koenigshofen-i-grabfeld"


def test_keyword_gate():
    assert matches_keywords("https://x.de/rathaus/kontakt", list(DEFAULT_KEYWORDS))
    assert matches_keywords("https://x.de/STADTRAT", list(DEFAULT_KEYWORDS))
    assert not matches_keywords("https://x.de/impressum", list(DEFAULT_KEYWORDS))
    assert not matches_keywords("https://x.de/rathaus", [])  # empty list gates off
    assert matches_keywords("https://x.de/impressum", [], save_all=True)
    # ascii-only lowering: uppercase Ü in page does not match lowercase ü needle
    assert not matches_keywords("https://x.de/BÜRGERMEISTER", list(DEFAULT_KEYWORDS))
    assert matches_keywords("https://x.de/bürgermeister", list(DEFAULT_KEYWORDS))
    # whitespace-only keywords ignored (src/main.rs:452-460)
    assert not matches_keywords("https://x.de/a", ["  ", ""])

