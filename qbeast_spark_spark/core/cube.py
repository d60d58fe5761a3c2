"""CubeId: node of the OTree — one half-open hypercube of the normalized space [0,1)^n.

Semantics follow the reference's recursive space division
(/root/reference/core/src/main/scala/io/qbeast/core/model/CubeId.scala:277-493,
 /root/reference/docs/OTreeAlgorithm.md:4-11), re-expressed as a compact
bit-packed path: at each level a cube splits into 2^dims children; the child
index encodes, per dimension, whether the point lies in the upper half.

Representation
--------------
``path`` is a Python int. The child index chosen at level ``l`` (0-based)
occupies bits ``[l*dims, (l+1)*dims)``; within a child index, bit ``i`` is set
when coordinate ``i`` falls in the upper half of the parent's range. Depths up
to ``63 // dims`` fit into a single int64, which is what the vectorized
(NumPy) indexing kernels use; the pure-Python class supports arbitrary depth.
"""

from __future__ import annotations

from typing import Iterator, List, Tuple

__all__ = ["CubeId", "cube_str", "max_depth_for_dims", "parse_cube"]

# Coordinates live in [0, 1); clamp 1.0 (the max of a linear transform) just
# inside so the containing cube chain is well defined at every depth.
_ONE_MINUS_EPS = 1.0 - 2.0**-52


def max_depth_for_dims(dims: int) -> int:
    """Deepest level whose packed path still fits in a signed int64."""
    return 63 // dims


def cube_str(depth: int, path: int) -> str:
    """The log's cube id string: ``"<depth>:<path in hex>"``."""
    return f"{depth}:{path:x}"


def parse_cube(s: str) -> Tuple[int, int]:
    """Inverse of ``cube_str``: ``(depth, path)``."""
    d, _, p = s.partition(":")
    return int(d), int(p or "0", 16)


class CubeId:
    """Immutable identifier of one OTree cube."""

    __slots__ = ("dims", "depth", "path")

    def __init__(self, dims: int, depth: int, path: int) -> None:
        if dims < 1:
            raise ValueError(f"dims must be >= 1, got {dims}")
        if depth < 0:
            raise ValueError(f"depth must be >= 0, got {depth}")
        if path < 0 or path >= (1 << (dims * depth)):
            raise ValueError(f"path {path} out of range for dims={dims} depth={depth}")
        object.__setattr__(self, "dims", dims)
        object.__setattr__(self, "depth", depth)
        object.__setattr__(self, "path", path)

    def __setattr__(self, *_args) -> None:  # pragma: no cover
        raise AttributeError("CubeId is immutable")

    # -- constructors -------------------------------------------------------

    @staticmethod
    def root(dims: int) -> "CubeId":
        return CubeId(dims, 0, 0)

    @staticmethod
    def container(point: Tuple[float, ...], depth: int) -> "CubeId":
        """The cube at ``depth`` containing ``point`` (coords in [0,1])."""
        dims = len(point)
        path = 0
        for level in range(depth):
            idx = _child_index(point, level)
            path |= idx << (dims * level)
        return CubeId(dims, depth, path)

    @staticmethod
    def from_string(dims: int, s: str) -> "CubeId":
        return CubeId(dims, *parse_cube(s))

    # -- codec --------------------------------------------------------------

    def __str__(self) -> str:
        return cube_str(self.depth, self.path)

    def __repr__(self) -> str:
        return f"CubeId(dims={self.dims}, depth={self.depth}, path={self.path:#x})"

    # -- identity / ordering ------------------------------------------------

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, CubeId)
            and self.dims == other.dims
            and self.depth == other.depth
            and self.path == other.path
        )

    def __hash__(self) -> int:
        return hash((self.dims, self.depth, self.path))

    def __lt__(self, other: "CubeId") -> bool:
        # Depth-first pre-order, matching a path-prefix ordering.
        return self._order_key() < other._order_key()

    def _order_key(self) -> Tuple:
        return (self.child_indices(), )

    # -- tree navigation ----------------------------------------------------

    def child_indices(self) -> Tuple[int, ...]:
        mask = (1 << self.dims) - 1
        return tuple(
            (self.path >> (self.dims * l)) & mask for l in range(self.depth)
        )

    @property
    def is_root(self) -> bool:
        return self.depth == 0

    def parent(self) -> "CubeId":
        if self.is_root:
            raise ValueError("root cube has no parent")
        d = self.depth - 1
        return CubeId(self.dims, d, self.path & ((1 << (self.dims * d)) - 1))

    def child(self, index: int) -> "CubeId":
        if index < 0 or index >= (1 << self.dims):
            raise ValueError(f"child index {index} out of range")
        return CubeId(
            self.dims, self.depth + 1, self.path | (index << (self.dims * self.depth))
        )

    def children(self) -> Iterator["CubeId"]:
        for i in range(1 << self.dims):
            yield self.child(i)

    def is_ancestor_of(self, other: "CubeId") -> bool:
        """True if self is a proper ancestor of ``other`` (or equal)."""
        if self.dims != other.dims or self.depth > other.depth:
            return False
        mask = (1 << (self.dims * self.depth)) - 1
        return (other.path & mask) == self.path

    def containers(self, point: Tuple[float, ...]) -> Iterator["CubeId"]:
        """Yield root, then each deeper cube containing ``point``, forever
        (caller bounds the iteration) — mirrors CubeId.containers()."""
        dims = len(point)
        path = 0
        depth = 0
        while True:
            yield CubeId(dims, depth, path)
            idx = _child_index(point, depth)
            path |= idx << (dims * depth)
            depth += 1

    def contains(self, point: Tuple[float, ...]) -> bool:
        frm, to = self.ranges()
        return all(
            f <= min(p, _ONE_MINUS_EPS) < t
            for p, f, t in zip(point, frm, to)
        )

    # -- geometry -----------------------------------------------------------

    def ranges(self) -> Tuple[List[float], List[float]]:
        """(from, to) per dimension — the half-open hypercube [from, to)."""
        frm = [0.0] * self.dims
        width = 1.0
        for level, idx in enumerate(self.child_indices()):
            width = 2.0 ** -(level + 1)
            for i in range(self.dims):
                if (idx >> i) & 1:
                    frm[i] += width
        side = 2.0 ** -self.depth
        to = [f + side for f in frm]
        return frm, to


def _child_index(point: Tuple[float, ...], level: int) -> int:
    """Child index at ``level`` for a point with coords in [0,1]."""
    idx = 0
    scale = 2.0 ** (level + 1)
    for i, p in enumerate(point):
        p = min(max(p, 0.0), _ONE_MINUS_EPS)
        if int(p * scale) & 1:
            idx |= 1 << i
    return idx
