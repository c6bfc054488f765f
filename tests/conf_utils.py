"""The one writer of the service's ini conf for the tests: each test
that configures a `FlowService` through `parse_config` writes its file
here."""

from __future__ import annotations

import configparser
import os


def write_conf(base: str, sources: dict[str, dict], **general) -> str:
    """Write `<base>/c.conf` and return its path. Its `[general]` section
    puts the table at `<base>/flows` and the checkpoints under
    `<base>/ckpt`; ``general`` adds or overrides keys (`keep_days`,
    `log_dir`, ...). ``sources`` maps each source section's name to its
    keys (`watchdir`, `flowsrc`, `format`, `decode_cmd`, ...)."""
    cp = configparser.ConfigParser()
    cp["general"] = {
        "table_path": os.path.join(base, "flows"),
        "checkpoint_root": os.path.join(base, "ckpt"),
        **general,
    }
    cp.read_dict(sources)
    path = os.path.join(base, "c.conf")
    with open(path, "w") as fh:
        cp.write(fh)
    return path
