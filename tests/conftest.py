"""Shared fixtures: reference-library loader and a local SparkSession."""

from __future__ import annotations

import functools
import os
import sys
import types

import numpy as np
import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE_ROOT = "/root/reference"

if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def load_reference():
    """Import the reference ddsketch package (read-only, for equivalence
    oracles): the sketches-py checkout at ``REFERENCE_ROOT`` where it exists,
    else an installed ``ddsketch``.

    A source checkout lacks the ``ddsketch/__version.py`` that packaging
    generates, so its ``__init__`` gets a version stub.  The stub is installed
    only for the checkout, and nothing the attempt added to ``sys.modules`` or
    ``sys.path`` is left behind if the import fails."""
    if "ddsketch" in sys.modules:
        return sys.modules["ddsketch"]
    package_dir = os.path.join(REFERENCE_ROOT, "ddsketch")
    if not os.path.isfile(os.path.join(package_dir, "__init__.py")):
        import ddsketch

        return ddsketch
    modules_before = set(sys.modules)
    sys.path.insert(0, REFERENCE_ROOT)
    if not os.path.isfile(os.path.join(package_dir, "__version.py")):
        stub = types.ModuleType("ddsketch.__version")
        stub.version = "0.0.0"
        sys.modules["ddsketch.__version"] = stub
    try:
        import ddsketch
    except Exception:
        for name in set(sys.modules) - modules_before:
            if name == "ddsketch" or name.startswith("ddsketch."):
                del sys.modules[name]
        sys.path.remove(REFERENCE_ROOT)
        raise
    return ddsketch


@functools.lru_cache(maxsize=None)
def reference_import_error() -> str | None:
    """Whether the reference ``ddsketch`` package can be imported: None when
    it can, else why it cannot."""
    try:
        load_reference()
    except ImportError as exc:
        return f"{type(exc).__name__}: {exc}"
    return None


@pytest.fixture(scope="session")
def ref():
    """The reference module; skips tests whose whole check is a comparison
    with it when neither the ``REFERENCE_ROOT`` checkout nor an installed
    ``ddsketch`` can be imported."""
    error = reference_import_error()
    if error is not None:
        pytest.skip(
            f"reference ddsketch not importable from REFERENCE_ROOT="
            f"{REFERENCE_ROOT} or as an installed package ({error})"
        )
    return load_reference()


@pytest.fixture(scope="session")
def optional_ref():
    """The reference module where it can be imported, else None: for tests
    whose oracle or documented contract runs everywhere and whose reference
    comparison runs only where the reference is present."""
    return None if reference_import_error() else load_reference()


@pytest.fixture(scope="session")
def spark():
    from ddspark.session import get_spark

    s = get_spark(app_name="ddspark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


SF_TEST_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_TEST_DIR
