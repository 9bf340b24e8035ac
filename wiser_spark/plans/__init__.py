"""Plans: the resumable build, its manifest, driver-contract queries."""
