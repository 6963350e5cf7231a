"""The repo tools import the checkout they live in, not a fixed path.

An A/B run executes a tool from a second checkout (a parent copy); if
the tool put a fixed path first on ``sys.path`` it would import and
measure that path's package instead of its own.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools")
PKG = "m2_b3_market_data_pipeline_spark"


def _path_setup(tool: str) -> str:
    """The tool's ``REPO = ...`` and ``sys.path.insert(0, REPO)`` lines."""
    src = open(os.path.join(TOOLS, tool)).read()
    lines = []
    for node in ast.parse(src).body:
        text = ast.get_source_segment(src, node)
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "REPO" for t in node.targets
        ):
            lines.append(text)
        elif "sys.path.insert" in text and "REPO" in text:
            lines.append(text)
    assert len(lines) == 2, f"{tool}: path setup not found"
    return "\n".join(lines)


@pytest.mark.parametrize("tool", ["check_oracle.py", "plan_digest.py"])
def test_tool_imports_its_own_checkout(tmp_path, tool):
    checkout = tmp_path / "checkout"
    (checkout / "tools").mkdir(parents=True)
    (checkout / PKG).mkdir()
    (checkout / PKG / "__init__.py").write_text("STUB = True\n")
    probe = checkout / "tools" / tool
    probe.write_text(
        "import os\nimport sys\n\n"
        + _path_setup(tool)
        + f"\n\nimport {PKG}\nprint({PKG}.__file__)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(probe)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert out == str(checkout / PKG / "__init__.py")
