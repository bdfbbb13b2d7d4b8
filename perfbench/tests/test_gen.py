import hashlib

import gen


def _digest(tmp_path, seed):
    files, _ = gen.stream_files(seed, 3, 40)
    existing, batch, expected, _ = gen.backfill(seed, 200, 100)
    docs, _ = gen.corpus(seed, 80)
    seeded, _ = gen.seed_posts(seed, 50, 1000)
    h = hashlib.sha256()
    for i, cols in enumerate([*files, existing, batch, expected, docs, seeded]):
        path = tmp_path / f"s{seed}" / f"t{i}.parquet"
        gen.write_table(cols, str(path))
        h.update(path.read_bytes())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _digest(tmp_path / "a", 5) == _digest(tmp_path / "b", 5)


def test_different_seed_gives_different_inputs(tmp_path):
    assert _digest(tmp_path, 5) != _digest(tmp_path, 6)


def test_realised_shares_and_replays_are_identical_rows():
    files, shares = gen.stream_files(1, 5, 100)
    assert abs(shares["replay_share"] - 0.08) < 1e-9  # 4 of 5 files carry 10%
    rows = [tuple(f[k][i] for k in gen.SCHEMA.names)
            for f in files for i in range(len(f["doc_id"]))]
    by_id = {}
    for r in rows:
        by_id.setdefault(r[0], set()).add(r)
    assert all(len(v) == 1 for v in by_id.values())  # a replay re-sends the same row
    assert 0.3 < shares["long_share"] < 0.5
    assert all(n != gen.ROUTER_THRESHOLD for f in files for n in f["n_chars"])


def test_backfill_expected_is_existing_overwritten_by_batch():
    existing, batch, expected, shares = gen.backfill(2, 100, 50)
    assert shares["update_share"] == 0.3
    want = {k: (t, l) for k, t, l in zip(existing["doc_id"], existing["text"], existing["lang"])}
    want.update({k: (t, l) for k, t, l in zip(batch["doc_id"], batch["text"], batch["lang"])})
    got = {k: (t, l) for k, t, l in zip(expected["doc_id"], expected["text"], expected["lang"])}
    assert got == want and len(expected["doc_id"]) == 135


def test_corpus_has_duplicates_and_boilerplate():
    docs, shares = gen.corpus(3, 400)
    assert len(set(docs["text"])) < len(docs["text"])
    assert shares["exact_dup_share"] > 0.05 and shares["near_dup_share"] > 0.05
    assert shares["boiler_share"] > 0.1
    assert all(len(t.split()) >= 50 for t in docs["text"])
