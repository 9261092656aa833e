"""DedupConfig checkpoint compatibility (Spark-free).

The config hash keys every warehouse stage. Dropping or reclassifying a
layout field (``_LAYOUT_FIELDS``: same rows whatever its value) must not move
the default hash, or warehouses written by earlier versions stop resuming.
Dropping a semantics-bearing field moves it on purpose: results an old
warehouse holds are then no longer guaranteed to match a fresh run."""

import dataclasses

from srpr_lsh_spark.config import DedupConfig


def test_default_config_hash_is_stable():
    assert DedupConfig().config_hash() == "aa1bb2f18ce270bc"


def test_layout_fields_never_move_the_hash():
    """Every name the hash skips is a real field (``getattr`` fails on a
    stale one), and changing it keeps checkpoints valid."""
    base = DedupConfig()
    for name in DedupConfig._LAYOUT_FIELDS:
        bumped = dataclasses.replace(base, **{name: getattr(base, name) + 1})
        assert bumped.config_hash() == base.config_hash(), name


# DedupConfig fields no package code reads, each with the reason it stays
UNREAD_FIELDS = {
    "shuffle_partitions": "sizes harness sessions (bench.py, perfbench); "
                          "run_dedup uses the session's spark.sql.shuffle.partitions",
}


def test_every_field_is_read():
    """A field no package code reads is an inert knob: setting it changes
    nothing in a run. Every field must appear as an attribute read
    (``cfg.<field>``) somewhere in ``srpr_lsh_spark/`` outside config.py,
    or sit in ``UNREAD_FIELDS`` with its reason."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "srpr_lsh_spark"
    read = {
        node.attr
        for path in pkg.rglob("*.py") if path.name != "config.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute)
    }
    fields = {f.name for f in dataclasses.fields(DedupConfig)}
    assert sorted(fields - read - set(UNREAD_FIELDS)) == []
    assert sorted(set(UNREAD_FIELDS) - fields) == [], "stale UNREAD_FIELDS entry"
    assert sorted(set(UNREAD_FIELDS) & read) == [], "UNREAD_FIELDS entry is read"
