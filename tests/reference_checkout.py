"""Skip mark for tests that read the reference's own format files
(``miw/formats/*.json`` and ``*.fmt``). The repository does not hold
them; they are read from a reference checkout, and a test that needs
one runs wherever that file exists.
"""

from __future__ import annotations

import os

import pytest


def needs_reference(path: str) -> pytest.MarkDecorator:
    """Skip the test unless ``path``, a reference format file or the
    directory holding them, exists."""
    return pytest.mark.skipif(
        not os.path.exists(path), reason=f"reference format {path} is absent"
    )
