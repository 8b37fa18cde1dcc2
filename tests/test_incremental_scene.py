"""Temporal video fingerprints read raw payload bytes:
``multimodal_q.scene_fingerprints`` on frames above 0x7f."""


def _vid(byte_rows):
    """Payload of n 64-byte frames, frame i filled with byte_rows[i]."""
    return bytearray(b"".join(bytes([v]) * 64 for v in byte_rows))


def test_frame_sums_are_byte_true_above_0x7f(spark):
    """Frame sums must read RAW bytes: a UTF-8-decoding implementation
    collapses every byte >= 0x80 to U+FFFD (65533), so distinct
    non-ASCII frames (all-0xC8 vs all-0xDC) would hash identical and
    verify as duplicates at delta 0 — false positives for any binary
    (non-text) payload, the declared input type of scene_fingerprints."""
    from composable_logs_spark.queries.multimodal_q import scene_fingerprints

    fp = scene_fingerprints(
        spark.createDataFrame(
            [(1, _vid([0xC8, 0xC8])), (2, _vid([0xDC, 0xDC]))],
            "media_id long, payload binary",
        )
    ).collect()
    sums = {r["media_id"]: r["fsum"] for r in fp}
    assert sums[1] == [0xC8 * 64] * 2
    assert sums[2] == [0xDC * 64] * 2
    profiles = {r["media_id"]: r["profile_md5"] for r in fp}
    assert profiles[1] != profiles[2]
