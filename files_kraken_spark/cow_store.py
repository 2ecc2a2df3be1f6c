"""Former name of the copy-on-write store, kept for existing imports."""

from .store import StateStore

CowStateStore = StateStore
