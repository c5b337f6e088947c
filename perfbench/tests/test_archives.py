"""The synthetic-archive generator: determinism and the injected truth."""

import numpy as np

from perfbench.archives import ArchiveSpec, archive_bytes, read_archive, write_archives

SPEC = ArchiveSpec(nsub=2, nchan=16, nbin=64)


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = write_archives(SPEC, 7, str(tmp_path / "a"), 0, 3)
    b = write_archives(SPEC, 7, str(tmp_path / "b"), 0, 3)
    for pa, pb in zip(a, b):
        with open(pa, "rb") as fa, open(pb, "rb") as fb:
            assert fa.read() == fb.read()


def test_seed_and_index_change_the_noise():
    base = archive_bytes(SPEC, 7, 0)
    assert archive_bytes(SPEC, 8, 0) != base
    assert archive_bytes(SPEC, 7, 1) != base


def test_archive_carries_the_injected_truth(tmp_path):
    (path,) = write_archives(SPEC, 3, str(tmp_path), 0, 1)
    cards, freqs, wts, data = read_archive(path)
    assert (int(cards["NPOL"]), int(cards["NCHAN"]), int(cards["NBIN"])) == (4, 16, 64)
    assert data.shape == (SPEC.nsub, 4, SPEC.nchan, SPEC.nbin)
    np.testing.assert_allclose(freqs[0], SPEC.freqs())
    assert [c for c in range(SPEC.nchan) if wts[0, c] == 0] == list(SPEC.zapped_chans)

    # RFI-hot channels are far noisier than the rest
    noise = data[:, 3].std(axis=(0, 2))  # CI holds noise only
    hot = list(SPEC.rfi_chans)
    quiet = [c for c in range(SPEC.nchan) if c not in hot]
    assert noise[hot].min() > 10 * noise[quiet].max()

    # the pulse peaks where the dispersive delay puts it
    prof = data[:, 0].mean(axis=0)
    delay = SPEC.delay_phase(SPEC.freqs())
    for c in quiet:
        want = (SPEC.pulse_phase + delay[c]) * SPEC.nbin
        assert abs(int(np.argmax(prof[c])) - want) <= 1.0


def test_on_pulse_window_holds_every_channel_peak():
    lo, hi = SPEC.on_pulse_bins()
    peaks = (SPEC.pulse_phase + SPEC.delay_phase(SPEC.freqs())) * SPEC.nbin
    assert lo < peaks.min() and peaks.max() < hi
