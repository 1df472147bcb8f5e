"""Repo-side scripts and harnesses; not part of the shipped package."""
