"""Label-store domain semantics: the reference's end-product behaviors
that the hash gate can't express — per-source refresh isolation,
point lookup, and the $set-clobber bug the policy prevents."""

from __future__ import annotations

from pyspark.sql import functions as F

from labelmain_spark.labelstore import layout, store


def _store(spark, sf_dir):
    return store.consolidate(
        store.abuse_labels(spark, sf_dir), store.wallet_labels(spark, sf_dir)
    )


def test_lookup_returns_one_doc(spark, sf_dir, tmp_path):
    """A doc holding both sources' namespaces comes back whole through
    the stored layout's point lookup (manifest schema, one bucket)."""
    s = _store(spark, sf_dir)
    path = str(tmp_path / "store")
    layout.write_partitioned(s, path)
    both = s.filter(
        F.exists("labels", lambda l: l["src"] == "bitcoinAbuse")
        & F.exists("labels", lambda l: l["src"] == "walletExplorer")
    )
    some_addr = both.select("addr").orderBy("addr").first().addr
    doc = layout.lookup_partitioned(spark, path, some_addr).collect()
    assert len(doc) == 1
    assert doc[0].addr == some_addr
    assert {l.src for l in doc[0].labels} == {"bitcoinAbuse", "walletExplorer"}


def test_merge_into_stored_version_is_replay_safe(spark, sf_dir, tmp_path):
    """The refresh merge against a version read back from parquet (every
    label field nullable), as the refresh loop runs it: merging an
    extract the version already holds changes nothing, and merging it
    again is a no-op — the replay safety a re-delivered batch needs."""
    s = _store(spark, sf_dir)
    path = str(tmp_path / "store")
    layout.write_partitioned(s, path)
    fresh = store.wallet_labels(spark, sf_dir)
    once = store.consolidate(spark.read.parquet(path), fresh)
    assert once.exceptAll(s).count() == 0
    assert s.exceptAll(once).count() == 0
    twice = store.consolidate(once, fresh)
    assert twice.exceptAll(once).count() == 0
    assert once.exceptAll(twice).count() == 0


def test_refresh_source_preserves_other_namespaces(spark, sf_dir):
    """Refreshing walletExplorer labels must not touch bitcoinAbuse
    labels — the failure mode of the reference's $set overwrite."""
    s = _store(spark, sf_dir)
    fresh = store.wallet_labels(spark, sf_dir)  # same data, fresh extract
    refreshed = store.refresh_source(s, "walletExplorer", fresh)

    def abuse_only(df):
        return (
            df.select("addr", F.explode("labels").alias("l"))
            .filter(F.col("l.src") == "bitcoinAbuse")
            .select("addr", "l")
        )

    before = abuse_only(s)
    after = abuse_only(refreshed)
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0


def test_refresh_source_idempotent(spark, sf_dir):
    s = _store(spark, sf_dir)
    fresh = store.wallet_labels(spark, sf_dir)
    once = store.refresh_source(s, "walletExplorer", fresh)
    twice = store.refresh_source(once, "walletExplorer", fresh)
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_consolidate_commutative(spark, sf_dir):
    a = store.abuse_labels(spark, sf_dir)
    b = store.wallet_labels(spark, sf_dir)
    ab = store.consolidate(a, b)
    ba = store.consolidate(b, a)
    assert ab.exceptAll(ba).count() == 0
    assert ba.exceptAll(ab).count() == 0
