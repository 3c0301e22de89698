"""Opaque element type for the object_facade workload.

Kept in its own import-light module: Spark's Python workers unpickle
instances by importing this module, so the benchmark puts its directory
on the workers' PYTHONPATH.
"""

from __future__ import annotations

import math


class Point:
    __slots__ = ("x", "y")

    def __init__(self, x: float, y: float):
        self.x = x
        self.y = y

    def norm(self) -> float:
        return math.hypot(self.x, self.y)

    def __mul__(self, k):
        return Point(self.x * k, self.y * k)

    def __eq__(self, other):
        return isinstance(other, Point) and (self.x, self.y) == (other.x, other.y)

    def __hash__(self):
        return hash((self.x, self.y))

    def __repr__(self):
        return f"Point({self.x!r}, {self.y!r})"
