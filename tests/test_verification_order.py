"""The driver checks queries in the order ``__spark_entry__.queries()``
returns them; that order is derived from the CORRECTNESS_r{N}.json
records. Each rule of the sort is pinned here on synthetic records."""

from __future__ import annotations

import json

import __spark_entry__ as entrymod
from mpi_word_count_spark import registry


def _row(green: bool) -> dict:
    return {
        "rows_match": True,
        "schema_match": True,
        "hash_match": green,
        "spark_rows": 1,
        "oracle_rows": 1,
        "err": None if green else "value hash differs",
    }


def _write(tmp_path, rnd: int, rows: dict[str, bool]) -> None:
    path = tmp_path / f"CORRECTNESS_r{rnd:02d}.json"
    path.write_text(json.dumps({n: _row(g) for n, g in rows.items()}))


def test_order_rules_on_synthetic_records(tmp_path):
    names = ["a", "b", "c", "d", "e", "f", "g", "wordcount", "h"]
    _write(tmp_path, 1, {"a": True, "b": False, "c": True, "d": True})
    _write(tmp_path, 2, {"e": True, "f": True, "g": True})
    # round 10 sorts after round 9 (numeric, not string, order) and its
    # rows supersede older ones: b is green again, d turns red
    _write(tmp_path, 9, {"c": True, "f": True, "wordcount": True})
    _write(tmp_path, 10, {"b": True, "d": False, "wordcount": True})
    # not a record: ignored
    (tmp_path / "CORRECTNESS_latest.json").write_text(json.dumps({"a": _row(False)}))

    got = entrymod.verification_order(names, str(tmp_path))

    assert got == [
        "wordcount",  # flagship first, although green and newest
        "d",  # not green in its latest row (r10)
        "h",  # never checked: round 0
        "a",  # green, r1
        "e",  # green, r2 — tie with g broken by registration order
        "g",
        "c",  # green, r9
        "f",
        "b",  # green, r10
    ]


def test_red_rows_rank_by_round_then_registration(tmp_path):
    # hash_match None (a rows-only row) is not green either
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"x": {"hash_match": None}, "y": _row(True)})
    )
    _write(tmp_path, 4, {"z": False, "w": False})
    names = ["y", "z", "w", "x"]
    assert entrymod.verification_order(names, str(tmp_path)) == ["x", "z", "w", "y"]


def test_without_records_flagship_then_registration_order(tmp_path):
    names = list(registry.queries())
    got = entrymod.verification_order(names, str(tmp_path))
    assert got == ["wordcount"] + [n for n in names if n != "wordcount"]


def test_queries_returns_every_registered_name_once():
    registered = registry.queries()
    got = list(entrymod.queries())
    assert got[0] == "wordcount"
    assert len(got) == len(set(got)) == len(registered)
    assert set(got) == set(registered)
    assert all(entrymod.queries()[n] is registered[n] for n in got)
