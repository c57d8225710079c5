"""Every package module compiles with warnings raised as errors: an
invalid escape sequence in a plain string (a DeprecationWarning on 3.11, a
SyntaxWarning from 3.12, an error later) fails here instead of warning."""
import pathlib
import warnings

import lucenenet_spark


def test_package_compiles_without_warnings():
    root = pathlib.Path(lucenenet_spark.__file__).parent
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for p in sorted(root.rglob("*.py")):
            compile(p.read_text(encoding="utf-8"), str(p), "exec")
