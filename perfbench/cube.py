"""Seeded synthetic PostStack3DTime cubes and their numpy reference cuts.

The benchmark writes its own SEG-Y rev1 files here, so no edit to the
package's tools or tests can change what the benchmark feeds the program.
A cube is a full (inline, crossline) grid of IEEE float32 traces with
affine CDP coordinates and a -100 coordinate scalar. The same seed always
gives the same bytes. ``order`` permutes the traces on disk; the grid, and
so every export of the ingested store, does not depend on it.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

TEXT_BYTES = 3200
BIN_BYTES = 400
HDR_BYTES = 240
SAMPLE_INTERVAL_US = 2000


@dataclass(frozen=True)
class Cube:
    """A generated grid: its file header, its trace records in grid order,
    and its samples as a numpy cube for reference cuts."""

    n_inline: int
    n_crossline: int
    n_samples: int
    file_header: bytes
    traces: np.ndarray  # (n_inline * n_crossline, 240 + 4 * n_samples) uint8, grid order
    samples: np.ndarray  # (n_inline, n_crossline, n_samples) float32

    @property
    def n_traces(self) -> int:
        return self.n_inline * self.n_crossline

    def inline_values(self) -> np.ndarray:
        return np.arange(1, self.n_inline + 1)

    def crossline_values(self) -> np.ndarray:
        return np.arange(1, self.n_crossline + 1)

    def write(self, path: str, order: np.ndarray | None = None) -> int:
        """Write the cube as SEG-Y, traces in ``order`` (grid order when
        ``None``); returns the file size in bytes."""
        recs = self.traces if order is None else self.traces[order]
        with open(path, "wb") as f:
            f.write(self.file_header)
            f.write(recs.tobytes())
        return len(self.file_header) + recs.nbytes

    def grid_bytes(self, inline_mask: np.ndarray | None = None) -> bytes:
        """The file a grid-ordered export of the cube must produce: the
        file header, then the traces of the selected inlines (all when
        ``inline_mask`` is ``None``) in (inline, crossline) order."""
        recs = self.traces
        if inline_mask is not None:
            keep = np.repeat(inline_mask, self.n_crossline)
            recs = recs[keep]
        return self.file_header + recs.tobytes()


def _file_header(n_samples: int) -> bytes:
    card = "C 1 PERFBENCH SYNTHETIC POSTSTACK CUBE".ljust(80)
    text = (card + " " * 80 * 39).encode("cp037")
    buf = bytearray(text) + bytearray(BIN_BYTES)
    struct.pack_into(">h", buf, TEXT_BYTES + 16, SAMPLE_INTERVAL_US)
    struct.pack_into(">h", buf, TEXT_BYTES + 20, n_samples)
    struct.pack_into(">h", buf, TEXT_BYTES + 24, 5)  # IEEE float32
    struct.pack_into(">h", buf, TEXT_BYTES + 54, 1)  # meters
    struct.pack_into(">H", buf, TEXT_BYTES + 300, 0x0100)  # rev 1.0
    struct.pack_into(">h", buf, TEXT_BYTES + 302, 1)  # fixed-length traces
    return bytes(buf)


def make_cube(seed: int, n_inline: int, n_crossline: int, n_samples: int) -> Cube:
    """Build a cube in memory from ``seed``: about a tenth of the samples
    are exact zeros, as in real data with muted or dead samples."""
    rng = np.random.default_rng(seed)
    n = n_inline * n_crossline
    il = np.repeat(np.arange(1, n_inline + 1, dtype=np.int64), n_crossline)
    xl = np.tile(np.arange(1, n_crossline + 1, dtype=np.int64), n_inline)
    samples = rng.standard_normal((n, n_samples), dtype=np.float32)
    samples[rng.random(samples.shape, dtype=np.float32) < 0.1] = 0.0

    recs = np.zeros((n, HDR_BYTES + n_samples * 4), dtype=np.uint8)

    def put(offset: int, dtype: str, values: np.ndarray) -> None:
        width = np.dtype(dtype).itemsize
        col = np.broadcast_to(values, (n,)).astype(dtype)
        recs[:, offset : offset + width] = col.view(np.uint8).reshape(n, width)

    put(0, ">i4", np.arange(1, n + 1))  # trace sequence number in line
    put(70, ">i2", np.int64(-100))  # coordinate scalar
    put(114, ">i2", np.int64(n_samples))
    put(116, ">i2", np.int64(SAMPLE_INTERVAL_US))
    put(180, ">i4", 700_000 + il * 100 + xl * 3)  # cdp_x
    put(184, ">i4", 900_000 + xl * 100 - il * 2)  # cdp_y
    put(188, ">i4", il)
    put(192, ">i4", xl)
    recs[:, HDR_BYTES:] = samples.astype(">f4").view(np.uint8).reshape(n, -1)
    return Cube(
        n_inline=n_inline,
        n_crossline=n_crossline,
        n_samples=n_samples,
        file_header=_file_header(n_samples),
        traces=recs,
        samples=samples.reshape(n_inline, n_crossline, n_samples),
    )


def scramble(seed: int, n_traces: int) -> np.ndarray:
    """Seeded trace permutation: the on-disk order of a scrambled file."""
    return np.random.default_rng([seed, 1]).permutation(n_traces)
