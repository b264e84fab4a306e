"""The dedup family's per-document frame (boris_spark/ops/queries.py):
``_doc_sets_df`` rows (doc_id, ss, n) and ``_band_sigs`` rows (doc_id,
band, band_sig) equal a driver-side pure-Python reference. The oracle gates
compare only verified pairs, which LSH recall can hide; this pins the exact
shingle sets, minhashes and band hashes."""

import re

import pyarrow as pa
import pyarrow.parquet as pq

from boris_spark.kernel.hashing import xxh64_str

DOCS = [
    (1, "The quick brown fox, jumps over THE LAZY dog!"),
    (2, "a b c a b c a b c"),  # the 3-gram "a b c" repeats
    (3, "Hello   world"),  # 2 tokens: no row
    (4, ""),  # no tokens: no row
    (5, "...Punctuation--only?? and 42 numbers; MIXED Case text, café au lait"),
    (6, "the quick brown fox jumps over the lazy cat"),
]


def _ref_set(text: str) -> list[str] | None:
    t = [x for x in re.split("[^a-z0-9]+", text.lower()) if x]
    if len(t) < 3:
        return None
    return sorted({" ".join(t[i:i + 3]) for i in range(len(t) - 2)})


def _ref_bands(ss: list[str]) -> list[tuple[int, int]]:
    h = [min(xxh64_str(f"{i}:{s}") for s in ss) for i in range(32)]
    return [(b, xxh64_str(f"{h[2 * b]},{h[2 * b + 1]}")) for b in range(16)]


def test_doc_sets_and_bands_match_reference(spark, tmp_path):
    from boris_spark.ops.queries import _band_sigs, _doc_sets_df, release_persisted

    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d for d, _ in DOCS], pa.int64()),
            "text": [t for _, t in DOCS],
        }),
        sf / "documents.parquet",
    )
    want_sets = sorted(
        (d, tuple(ss), len(ss))
        for d, t in DOCS if (ss := _ref_set(t)) is not None
    )
    want_bands = sorted(
        (d, b, sig)
        for d, ss, _n in want_sets for b, sig in _ref_bands(list(ss))
    )
    assert [d for d, _, _ in want_sets] == [1, 2, 5, 6]

    try:
        sets = _doc_sets_df(spark, str(sf))
        got_sets = sorted((r.doc_id, tuple(r.ss), r.n) for r in sets.collect())
        got_bands = sorted(
            (r.doc_id, r.band, r.band_sig) for r in _band_sigs(sets).collect()
        )
    finally:
        release_persisted()
    assert got_sets == want_sets
    assert got_bands == want_bands
