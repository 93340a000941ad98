"""The Arrow kernels check their own input precondition: every row's list
must hold at least the elements the kernel needs (one hash for the
minhash/simhash ``reduceat``, one full window for winnowing). An empty
row must raise a ValueError naming the kernel — never silently take the
next row's value or fail with an unrelated numpy message. Spark-free:
the generators are fed pyarrow batches directly."""

import pyarrow as pa
import pytest

from xqspark.queries import _minhash_kernel, _simhash_kernel, _winnow_fps_kernel

W = 4


def _batch(lists, n_list_cols=1):
    ids = pa.array(range(len(lists)), type=pa.int64())
    col = pa.array(lists, type=pa.list_(pa.int64()))
    return pa.RecordBatch.from_arrays(
        [ids] + [col] * n_list_cols,
        ["doc_id"] + [f"h{i}" for i in range(n_list_cols)],
    )


KERNELS = [
    # (generator, name, minimum list length, list columns per batch)
    (_minhash_kernel(8), "_minhash_kernel", 1, 1),
    (_simhash_kernel(), "_simhash_kernel", 1, 4),
    (_winnow_fps_kernel(W), "_winnow_fps_kernel", W, 1),
]

FULL = [3, 1, 4, 1, 5, 9, 2, 6]


@pytest.mark.parametrize("gen,name,need,n_cols", KERNELS, ids=[k[1] for k in KERNELS])
@pytest.mark.parametrize(
    "lists",
    [[FULL, [], FULL], [FULL, FULL, []]],
    ids=["empty_middle", "empty_end"],
)
def test_kernel_rejects_empty_segment(gen, name, need, n_cols, lists):
    with pytest.raises(ValueError, match=rf"{name}: .*>= {need} elements"):
        list(gen([_batch(lists, n_cols)]))


def test_winnow_kernel_rejects_short_segment():
    with pytest.raises(ValueError, match=rf"_winnow_fps_kernel: .*>= {W} elements"):
        list(_winnow_fps_kernel(W)([_batch([FULL, FULL[: W - 1]])]))


@pytest.mark.parametrize("gen,name,need,n_cols", KERNELS, ids=[k[1] for k in KERNELS])
def test_kernel_accepts_sliced_batch(gen, name, need, n_cols):
    """A sliced batch (offsets not starting at 0) whose rows all meet the
    minimum passes the check and keeps one output row per input row."""
    b = _batch([[], FULL, FULL[:W], FULL], n_cols).slice(1)
    out = list(gen([b]))
    assert sum(o.num_rows for o in out) == 3
