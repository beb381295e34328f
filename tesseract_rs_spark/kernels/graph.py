"""Connected components of an integer edge list, in numpy."""

import numpy as np


def component_min_labels(n: int, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Label each node ``0..n-1`` with the smallest node of its connected
    component, given the undirected int64 edges ``u[i] -- v[i]``.

    Min-label propagation with pointer jumping: each pass lowers both ends
    of every edge to the smaller of their two labels, then sets label <-
    label(label).  Labels only fall and are always node ids of the same
    component, so the fixpoint is the component minimum; the jumping step
    halves chain depth every pass."""
    roots = np.arange(n, dtype=np.int64)
    while True:
        old = roots
        if len(u):
            m = np.minimum(roots[u], roots[v])
            roots = roots.copy()
            np.minimum.at(roots, u, m)
            np.minimum.at(roots, v, m)
        roots = np.minimum(roots, roots[roots])
        if np.array_equal(roots, old):
            return roots
