"""Shard writer: corpus -> packed training shards + manifest, with the
conservation invariants asserted against the WRITTEN artifact."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_guiacores_spark.plans.shard_writer import write_training_shards


def test_shards_manifest_and_conservation(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.length(F.trim("text")) > 0
    ).select("doc_id", "text")
    out = str(tmp_path / "shards_out")
    stats = write_training_shards(
        docs, out, budget_tokens=128, chunk_tokens=32, overlap=4,
        num_bins=8, sequences_per_shard=50,
    )
    seqs = spark.read.parquet(f"{out}/shards")
    chunks = spark.read.parquet(f"{out}/chunks")
    manifest = {r["shard_id"]: r for r in spark.read.parquet(f"{out}/manifest").collect()}

    # token conservation: packed tokens == chunk tokens
    chunk_tokens = chunks.agg(F.sum("n_chunk_tokens")).first()[0]
    assert stats["total_tokens"] == chunk_tokens
    # chunk-count conservation: every chunk packed exactly once
    n_chunk_rows = chunks.count()
    packed_chunkrefs = seqs.agg(F.sum(F.size("doc_ids"))).first()[0]
    assert packed_chunkrefs == n_chunk_rows == stats["n_chunks"]
    # no sequence over budget
    assert seqs.filter(F.col("n_tokens") > 128).count() == 0
    # global_seq is dense 0..n-1 and token offsets tile
    rows = sorted(
        ((r["global_seq"], r["token_offset"], r["n_tokens"]) for r in seqs.collect())
    )
    assert [g for g, _, _ in rows] == list(range(stats["n_sequences"]))
    run = 0
    for _, off, n in rows:
        assert off == run
        run += n
    assert run == stats["total_tokens"]
    # manifest covers contiguous, disjoint sequence ranges per shard
    covered = 0
    for sid in sorted(manifest):
        m = manifest[sid]
        assert m["first_seq"] == covered
        covered = m["last_seq"] + 1
        assert m["n_sequences"] == m["last_seq"] - m["first_seq"] + 1
        assert m["n_sequences"] <= 50
    assert covered == stats["n_sequences"]
    assert stats["n_shards"] == len(manifest)
    assert 0 < stats["fill_ratio"] <= 1.0


def test_empty_corpus(spark, tmp_path):
    docs = spark.createDataFrame([], "doc_id long, text string")
    stats = write_training_shards(docs, str(tmp_path / "empty_out"))
    assert stats["n_sequences"] == 0 and stats["n_shards"] == 0
    assert stats["fill_ratio"] == 0.0


def test_append_continues_global_stream_without_rewrites(spark, tmp_path):
    """Append must (a) never touch landed shard files, (b) keep
    global_seq dense and token offsets tiling across the COMBINED
    artifact, (c) extend the manifest coherently."""
    import os

    import pytest

    from etl_guiacores_spark.plans.shard_writer import append_training_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.length(F.trim("text")) > 0
    ).select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    inc = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    out = str(tmp_path / "shards_inc")
    kw = dict(budget_tokens=128, chunk_tokens=32, overlap=4,
              num_bins=8, sequences_per_shard=50)
    b_stats = write_training_shards(base, out, **kw)

    def file_mtimes():
        snap = {}
        for root, _, files in os.walk(f"{out}/shards"):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    snap[p] = os.path.getmtime(p)
        return snap

    before = file_mtimes()
    a_stats = append_training_shards(inc, out, **kw)
    after = file_mtimes()

    # (a) no landed file rewritten or removed
    for p, m in before.items():
        assert p in after and after[p] == m, f"landed file touched: {p}"
    assert len(after) > len(before)

    # (b) combined stream invariants
    seqs = spark.read.parquet(f"{out}/shards")
    n = b_stats["n_sequences"] + a_stats["n_sequences"]
    rows = sorted(
        (r["global_seq"], r["token_offset"], r["n_tokens"]) for r in seqs.collect()
    )
    assert [g for g, _, _ in rows] == list(range(n))
    run = 0
    for _, off, tok in rows:
        assert off == run
        run += tok
    assert run == b_stats["total_tokens"] + a_stats["total_tokens"]
    assert seqs.filter(F.col("n_tokens") > 128).count() == 0

    # (c) manifest: old rows intact, new rows tile on
    manifest = sorted(
        (r.asDict() for r in spark.read.parquet(f"{out}/manifest").collect()),
        key=lambda m: m["shard_id"],
    )
    covered, tok_run = 0, 0
    for m in manifest:
        assert m["first_seq"] == covered
        assert m["first_token"] == tok_run
        covered = m["last_seq"] + 1
        tok_run += m["n_tokens"]
    assert covered == n and tok_run == run
    assert a_stats["appended_after_seq"] == b_stats["n_sequences"]

    # appending without an initial load is an explicit error
    with pytest.raises(FileNotFoundError, match="manifest"):
        append_training_shards(inc, str(tmp_path / "never_written"), **kw)


class TestBatchAppendProtocol:
    def _docs(self, spark, lo, hi):
        return spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).filter(
            (F.length(F.trim("text")) > 0)
            & (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).select("doc_id", "text")

    KW = dict(budget_tokens=128, chunk_tokens=32, overlap=4,
              num_bins=8, sequences_per_shard=50)

    def test_marker_makes_replay_a_noop(self, spark, tmp_path):
        from etl_guiacores_spark.plans.shard_writer import append_batch_shards

        out = str(tmp_path / "stream_shards")
        s0 = append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW)
        assert s0 is not None
        n0 = spark.read.parquet(f"{out}/shards").count()
        # replay of a completed batch: marker short-circuits
        assert append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW) is None
        assert spark.read.parquet(f"{out}/shards").count() == n0
        # next batch appends, stream stays dense
        s1 = append_batch_shards(self._docs(spark, 200, 400), out, 1, **self.KW)
        seqs = spark.read.parquet(f"{out}/shards")
        n = s0["n_sequences"] + s1["n_sequences"]
        assert sorted(r["global_seq"] for r in seqs.collect()) == list(range(n))

    def test_orphans_from_crashed_append_are_pruned(self, spark, tmp_path):
        """Simulate a crash between shard write and manifest commit:
        an uncovered shard partition exists; the retry must prune it
        before re-appending, restoring manifest==landed."""
        import os
        import shutil

        from etl_guiacores_spark.plans.shard_writer import (
            append_batch_shards,
            prune_orphan_shards,
        )

        out = str(tmp_path / "crash_shards")
        append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW)
        covered = sorted(
            int(d.split("=")[1]) for d in os.listdir(f"{out}/shards")
            if d.startswith("shard_id=")
        )
        # fake the partial append: copy a real partition to an
        # uncovered shard id (files present, manifest silent)
        orphan = f"{out}/shards/shard_id={covered[-1] + 1}"
        shutil.copytree(f"{out}/shards/shard_id={covered[-1]}", orphan)
        assert prune_orphan_shards(out) == 1
        assert not os.path.exists(orphan)
        # and the batch retry lands cleanly on the pruned state
        s1 = append_batch_shards(self._docs(spark, 200, 400), out, 1, **self.KW)
        assert s1 is not None
        seqs = spark.read.parquet(f"{out}/shards")
        manifest = spark.read.parquet(f"{out}/manifest")
        assert seqs.count() == manifest.agg(F.sum("n_sequences")).first()[0]

    def test_mid_swap_crash_rolls_back_and_retry_is_exact(
        self, spark, tmp_path, monkeypatch
    ):
        """Kill the manifest commit INSIDE the rename swap (the one
        residual window): the retry must roll back to the old
        manifest, prune the crashed batch's partitions, and re-append
        exactly once — no lost shards, no duplicated content."""
        import os

        import pytest

        from etl_guiacores_spark.plans.shard_writer import append_batch_shards

        out = str(tmp_path / "swap_crash")
        s0 = append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW)

        real_rename = os.rename
        calls = {"n": 0}

        def crashing_rename(src, dst):
            calls["n"] += 1
            if calls["n"] == 2:  # after manifest -> old, before tmp -> manifest
                raise RuntimeError("simulated crash mid-swap")
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", crashing_rename)
        with pytest.raises(RuntimeError, match="simulated crash"):
            append_batch_shards(self._docs(spark, 200, 400), out, 1, **self.KW)
        monkeypatch.setattr(os, "rename", real_rename)

        # crash residue: manifest gone, rollback copy present
        assert not os.path.isdir(f"{out}/manifest")
        assert os.path.isdir(f"{out}/manifest.__commit_old__")

        s1 = append_batch_shards(self._docs(spark, 200, 400), out, 1, **self.KW)
        assert s1 is not None
        seqs = spark.read.parquet(f"{out}/shards")
        manifest = sorted(
            (r.asDict() for r in spark.read.parquet(f"{out}/manifest").collect()),
            key=lambda m: m["shard_id"],
        )
        n = s0["n_sequences"] + s1["n_sequences"]
        assert sorted(r["global_seq"] for r in seqs.collect()) == list(range(n))
        covered, tok_run = 0, 0
        for m in manifest:
            assert m["first_seq"] == covered and m["first_token"] == tok_run
            covered = m["last_seq"] + 1
            tok_run += m["n_tokens"]
        assert covered == n
        # chunk conservation across the crash: every chunk exactly once
        packed_chunkrefs = seqs.agg(F.sum(F.size("doc_ids"))).first()[0]
        assert packed_chunkrefs == s0["n_chunks"] + s1["n_chunks"]

    def test_lost_manifest_with_landed_batches_refuses_to_prune(
        self, spark, tmp_path
    ):
        """Once any batch marker exists, a missing manifest means lost
        metadata over VALID shards — mass deletion must be refused."""
        import shutil

        import pytest

        from etl_guiacores_spark.plans.shard_writer import (
            append_batch_shards,
            prune_orphan_shards,
        )

        out = str(tmp_path / "lost_manifest")
        append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW)
        shutil.rmtree(f"{out}/manifest")
        with pytest.raises(RuntimeError, match="Refusing to mass-delete"):
            prune_orphan_shards(out)
        with pytest.raises(RuntimeError, match="Refusing to mass-delete"):
            append_batch_shards(self._docs(spark, 200, 400), out, 1, **self.KW)

    def test_manifest_without_success_marker_refuses_to_prune(
        self, spark, tmp_path
    ):
        import os

        import pytest

        from etl_guiacores_spark.plans.shard_writer import (
            append_batch_shards,
            prune_orphan_shards,
        )

        out = str(tmp_path / "no_success")
        append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW)
        os.remove(f"{out}/manifest/_SUCCESS")
        with pytest.raises(RuntimeError, match="_SUCCESS"):
            prune_orphan_shards(out)

    def test_first_batch_crash_resets_cleanly(self, spark, tmp_path):
        """Before ANY marker exists, shards-without-manifest is debris
        from a crashed first attempt — the retry resets and lands."""
        import os
        import shutil

        from etl_guiacores_spark.plans.shard_writer import append_batch_shards

        out = str(tmp_path / "first_crash")
        append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW)
        # simulate the first attempt having crashed pre-manifest/marker
        shutil.rmtree(f"{out}/manifest")
        shutil.rmtree(f"{out}/_appended_batches")
        s0 = append_batch_shards(self._docs(spark, 0, 200), out, 0, **self.KW)
        assert s0 is not None
        seqs = spark.read.parquet(f"{out}/shards")
        assert sorted(r["global_seq"] for r in seqs.collect()) == list(
            range(s0["n_sequences"])
        )
        assert os.path.exists(f"{out}/_appended_batches/batch_0")

    def test_append_after_empty_initial_load(self, spark, tmp_path):
        """An empty initial write leaves a 0-row manifest; the first
        real batch must start the stream at seq 0 / token 0."""
        from etl_guiacores_spark.plans.shard_writer import (
            append_training_shards,
            write_training_shards,
        )

        out = str(tmp_path / "empty_then_append")
        empty = spark.createDataFrame([], "doc_id long, text string")
        write_training_shards(empty, out, **self.KW)
        stats = append_training_shards(self._docs(spark, 0, 100), out, **self.KW)
        assert stats["appended_after_seq"] == 0
        seqs = spark.read.parquet(f"{out}/shards")
        rows = sorted((r["global_seq"], r["token_offset"]) for r in seqs.collect())
        assert rows[0] == (0, 0)
        assert [g for g, _ in rows] == list(range(len(rows)))


    def test_append_offsets_match_driver_side_oracle(self, spark, tmp_path):
        """Every landed row's (global_seq, token_offset, shard_id) equals a
        recomputation from the rows in (bin_id, seq_id) order, across an
        append spanning several new shards; every manifest row equals the
        group-by of its shard's landed rows."""
        from etl_guiacores_spark.plans.shard_writer import append_training_shards

        base = self._docs(spark, 0, 150)
        inc = self._docs(spark, 150, 300).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
        out = str(tmp_path / "oracle")
        sps = 7
        kw = dict(self.KW, sequences_per_shard=sps)
        b = write_training_shards(base, out, **kw)
        a = append_training_shards(inc, out, **kw)
        assert a["n_shards"] >= 3

        rows = [r.asDict() for r in spark.read.parquet(f"{out}/shards").collect()]
        batches = (
            [r for r in rows if r["doc_ids"][0] < 1_000_000],
            [r for r in rows if r["doc_ids"][0] >= 1_000_000],
        )
        seq, tok, shard = 0, 0, 0
        for batch in batches:
            shard_base, seq_base = shard, seq
            for r in sorted(batch, key=lambda r: (r["bin_id"], r["seq_id"])):
                assert (r["global_seq"], r["token_offset"], r["shard_id"]) == (
                    seq, tok, shard_base + (seq - seq_base) // sps
                )
                seq, tok = seq + 1, tok + r["n_tokens"]
            shard = shard_base + -(-(seq - seq_base) // sps)
        assert seq == b["n_sequences"] + a["n_sequences"]
        assert shard == b["n_shards"] + a["n_shards"]

        manifest = spark.read.parquet(f"{out}/manifest").collect()
        assert len(manifest) == shard
        for m in manifest:
            mine = [r for r in rows if r["shard_id"] == m["shard_id"]]
            assert m.asDict() == {
                "shard_id": m["shard_id"],
                "first_seq": min(r["global_seq"] for r in mine),
                "last_seq": max(r["global_seq"] for r in mine),
                "first_token": min(r["token_offset"] for r in mine),
                "n_sequences": len(mine),
                "n_tokens": sum(r["n_tokens"] for r in mine),
            }


    def test_append_job_budget_and_hygiene(self, spark, tmp_path, monkeypatch):
        """A small-batch append runs at most 12 Spark jobs, leaves only its
        stats JSON beside the shards, and releases its persisted frame,
        also when the shard write fails."""
        import os

        import pytest
        from pyspark.sql import DataFrameWriter

        from etl_guiacores_spark.plans.shard_writer import append_training_shards

        sc = spark.sparkContext
        out = str(tmp_path / "budget")
        kw = dict(self.KW, sequences_per_shard=20)
        first = write_training_shards(self._docs(spark, 0, 100), out, **kw)
        batch = self._docs(spark, 100, 200)

        def persisted():
            return set(sc._jsc.getPersistentRDDs().keys())

        held = persisted()
        group = "shard-append-budget"
        saved = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            stats = append_training_shards(batch, out, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", saved)
        assert stats["n_sequences"] > 0
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 12
        landed = [
            os.path.relpath(os.path.join(root, f), f"{out}/append_batches")
            for root, _, files in os.walk(f"{out}/append_batches")
            for f in files
        ]
        assert landed == [f"batch_{first['n_shards']:06d}/stats.json"]
        assert persisted() <= held

        manifest_before = spark.read.parquet(f"{out}/manifest").collect()

        def failing_parquet(self, *a, **k):
            raise RuntimeError("simulated shard write failure")

        monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
        with pytest.raises(RuntimeError, match="simulated shard write failure"):
            append_training_shards(self._docs(spark, 200, 300), out, **kw)
        monkeypatch.undo()
        assert persisted() <= held
        assert spark.read.parquet(f"{out}/manifest").collect() == manifest_before


    def test_non_dense_packing_is_refused(self, spark, tmp_path, monkeypatch):
        """The per-bin offsets rely on pack_chunks numbering seq_id densely
        per bin; a gap must raise before any shard or manifest lands."""
        import os

        import pytest

        from etl_guiacores_spark.operators.packing import PACKED_SCHEMA
        from etl_guiacores_spark.plans import shard_writer as sw

        gapped = spark.createDataFrame(
            [(0, 0, [1], "a b", 2), (0, 2, [2], "c d", 2), (1, 0, [3], "e", 1)],
            PACKED_SCHEMA,
        )
        monkeypatch.setattr(sw, "pack_chunks", lambda *a, **k: gapped)
        out = str(tmp_path / "gapped")
        with pytest.raises(RuntimeError, match="densely"):
            sw.write_training_shards(self._docs(spark, 0, 5), out)
        assert not os.path.exists(f"{out}/shards")
        assert not os.path.exists(f"{out}/manifest")
