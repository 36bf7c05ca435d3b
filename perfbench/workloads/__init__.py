"""The benchmark's workloads: module ``<name>`` holds class ``<Name>``."""

import importlib


def get(name: str):
    return getattr(importlib.import_module(f".{name}", __name__),
                   name.capitalize())
