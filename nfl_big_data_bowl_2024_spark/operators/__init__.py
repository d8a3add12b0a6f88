"""Set-at-a-time DataFrame operators shared by the registered plans."""
