"""Every public name the package exports resolves, so a stale ``__all__``
entry fails here instead of at a user's ``from ... import *``."""

import py_stringsimjoin_spark


def test_all_exports_resolve():
    missing = [
        name for name in py_stringsimjoin_spark.__all__
        if getattr(py_stringsimjoin_spark, name, None) is None
    ]
    assert not missing, missing
