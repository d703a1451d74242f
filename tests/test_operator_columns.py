"""The corpus operators read the tables' own columns.

`documents(doc_id, text, …)` and `embeddings(vec_id, embedding, …)`
have fixed schemas (FIXTURES.md), so no operator takes a column-name
option for them. `train_ivf_centroids(vec_col=…)` is the one
exception: it is called on derived frames whose vector column is
`c_vec` or `_nv`.
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil

import elb_log_to_mysql_spark.operators as operators

COLUMN_OPTIONS = {"id_col", "text_col", "vec_col"}
ALLOWED = {("elb_log_to_mysql_spark.operators.similarity", "train_ivf_centroids", "vec_col")}


def _modules():
    for m in pkgutil.iter_modules(operators.__path__):
        yield importlib.import_module(f"{operators.__name__}.{m.name}")
    yield importlib.import_module("elb_log_to_mysql_spark.streaming.neardedup")


def test_operators_take_no_corpus_column_options():
    found = set()
    n_functions = 0
    for mod in _modules():
        for name, fn in vars(mod).items():
            if not (inspect.isfunction(fn) and fn.__module__ == mod.__name__):
                continue
            n_functions += 1
            for param in inspect.signature(fn).parameters:
                if param in COLUMN_OPTIONS:
                    found.add((mod.__name__, name, param))
    assert n_functions > 200  # every operator module was inspected
    assert found == ALLOWED
