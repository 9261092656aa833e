"""DedupConfig checkpoint compatibility (Spark-free).

The config hash keys every warehouse stage; a field that is added, dropped or
reclassified must not move the default hash, or warehouses written by earlier
versions stop resuming."""

import dataclasses

from srpr_lsh_spark.config import DedupConfig


def test_default_config_hash_is_stable():
    assert DedupConfig().config_hash() == "98662d54a676fa21"


def test_layout_fields_never_move_the_hash():
    """Every name the hash skips is a real field (``getattr`` fails on a
    stale one), and changing it keeps checkpoints valid."""
    base = DedupConfig()
    for name in DedupConfig._LAYOUT_FIELDS:
        bumped = dataclasses.replace(base, **{name: getattr(base, name) + 1})
        assert bumped.config_hash() == base.config_hash(), name
