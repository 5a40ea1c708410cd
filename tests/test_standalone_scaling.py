"""The standalone N -> 4N harness renders a valid leg script for every
registered job, without starting a cluster."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "scripts_local")
HARNESS = os.path.join(SCRIPTS, "standalone_scaling.py")
sys.path.insert(0, SCRIPTS)

import standalone_scaling  # noqa: E402

JOBS = standalone_scaling.JOBS


@pytest.mark.parametrize("name", sorted(JOBS))
def test_every_job_renders_a_compilable_leg(name):
    for edges in (JOBS[name].edges, (1000,)):  # defaults and --edges 1000
        compile(standalone_scaling.render(name, edges), f"<leg {name}>", "exec")


def test_unknown_job_exits_nonzero():
    p = subprocess.run([sys.executable, HARNESS, "no_such_job"],
                       capture_output=True, text=True)
    assert p.returncode != 0 and "invalid choice" in p.stderr


def test_bare_command_lists_the_registry():
    p = subprocess.run([sys.executable, HARNESS], capture_output=True, text=True)
    assert p.returncode == 0
    listed = {line.split()[0] for line in p.stdout.splitlines()
              if line and not line[0].isspace()}
    assert listed == set(JOBS)
